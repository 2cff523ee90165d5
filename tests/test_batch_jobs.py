"""Batch analytics jobs: outliers, stats, localization tiers, hotspot,
relocation, DML emulation, Kalman fusion."""

import math

import pytest
from pyspark.sql import functions as F

from tests.wifi_fixtures import make_measurements
from wifi_location_data_pipeline_spark.operators import table_dml
from wifi_location_data_pipeline_spark.operators.ap_stats import (
    ap_quality_metrics,
    per_ap_stats,
    sufficient_aps,
)
from wifi_location_data_pipeline_spark.operators.hotspot import (
    behavioral_hotspot_bssids,
    delete_hotspot_rows,
)
from wifi_location_data_pipeline_spark.operators.localization import (
    kalman_update,
    localize_all,
    tier_routing,
)
from wifi_location_data_pipeline_spark.operators.outliers import (
    delete_outlier_rows,
    flag_global_outliers,
)
from wifi_location_data_pipeline_spark.operators.relocation import (
    local_outlier_factor,
    relocation_by_dbscan,
    relocation_by_time_split,
)

MEASUREMENT_DDL = """
    bssid string, id string, event_id string, measurement_timestamp long,
    latitude double, longitude double, altitude double, location_accuracy double,
    rssi int, frequency int, ssid string, connection_status string,
    quality_weight double, ingestion_timestamp timestamp, is_global_outlier boolean, is_outlier_truth boolean
"""


@pytest.fixture(scope="module")
def measurements(spark):
    return spark.createDataFrame(make_measurements(), MEASUREMENT_DDL).cache()


def test_mad_outliers_catch_planted(measurements):
    flagged = flag_global_outliers(measurements, algorithm="MAD", exact=True)
    stats = (
        flagged.filter(F.col("bssid").startswith("aa:00:00:00:00:1"))
        .groupBy()
        .agg(
            F.count(F.when(F.col("is_outlier_truth") & F.col("is_global_outlier"), 1)).alias("tp"),
            F.count(F.when(F.col("is_outlier_truth"), 1)).alias("planted"),
            F.count(F.when(~F.col("is_outlier_truth") & F.col("is_global_outlier"), 1)).alias("fp"),
            F.count("*").alias("n"),
        )
        .first()
    )
    assert stats.tp / max(stats.planted, 1) >= 0.8       # recall on planted outliers
    assert stats.fp / stats.n <= 0.25                     # bounded false positives
    deleted = delete_outlier_rows(flagged)
    assert deleted.count() == flagged.count() - flagged.filter("is_global_outlier").count()


def test_iqr_and_percentile_variants(measurements):
    for algo in ("IQR", "PERCENTILE"):
        flagged = flag_global_outliers(measurements, algorithm=algo, exact=True)
        assert flagged.filter(F.col("global_detection_algorithm") == algo).count() > 0


def _numpy_centroid_distances(rows):
    """bssid -> (rows, haversine distance of each row to the AP's mean
    lat/lon), in plain NumPy: the reference for the window aggregates."""
    import numpy as np

    from wifi_location_data_pipeline_spark.functions.geo import EARTH_RADIUS_M

    by_ap = {}
    for r in rows:
        by_ap.setdefault(r["bssid"], []).append(r)
    out = {}
    for bssid, rs in by_ap.items():
        lat = np.radians([r["latitude"] for r in rs])
        lon = np.radians([r["longitude"] for r in rs])
        clat, clon = lat.mean(), lon.mean()
        a = np.sin((clat - lat) / 2) ** 2 + np.cos(lat) * np.cos(clat) * np.sin((clon - lon) / 2) ** 2
        out[bssid] = (rs, 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a)))
    return out


def test_mad_window_flags_match_numpy_reference(measurements):
    """The window-aggregate MAD detector flags exactly the rows a per-bssid
    NumPy median/MAD flags; distance and threshold agree within 1e-6 m (the
    window avg sums in another order than NumPy)."""
    import numpy as np

    rows = make_measurements()
    expected = {}
    for rs, dist in _numpy_centroid_distances(rows).values():
        med = np.median(dist)
        threshold = med + 3.0 * np.median(np.abs(dist - med))
        for r, d in zip(rs, dist):
            expected[r["id"]] = (d, threshold, d > threshold)
    assert len(expected) == len(rows)

    got = flag_global_outliers(measurements, algorithm="MAD", exact=True).select(
        "id", "global_outlier_distance", "global_outlier_threshold", "is_global_outlier"
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        d, threshold, flag = expected[r["id"]]
        assert r["is_global_outlier"] == flag, r["id"]
        assert abs(r["global_outlier_distance"] - d) < 1e-6, r["id"]
        assert abs(r["global_outlier_threshold"] - threshold) < 1e-6, r["id"]
    assert any(flag for _, _, flag in expected.values())


def test_hotspot_window_matches_numpy_reference(measurements):
    import re

    from wifi_location_data_pipeline_spark import config as C

    ssid_hit = re.compile("|".join(C.HOTSPOT_SSID_PATTERNS))
    expected = {
        bssid
        for bssid, (rs, dist) in _numpy_centroid_distances(make_measurements()).items()
        if dist.mean() > C.HOTSPOT_SPATIAL_STDDEV_M
        or any(r["ssid"] is not None and ssid_hit.search(r["ssid"]) for r in rs)
    }
    got = {r["bssid"] for r in behavioral_hotspot_bssids(measurements).collect()}
    assert got == expected
    assert {"aa:00:00:00:00:20", "aa:00:00:00:00:21"} <= got


@pytest.fixture(scope="module")
def measurements_parquet(measurements, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("measurements") / "m")
    measurements.write.parquet(path)
    return measurements.sparkSession.read.parquet(path)


@pytest.mark.parametrize("algorithm", ["MAD", "IQR", "PERCENTILE"])
def test_outlier_plan_is_one_scan_one_bssid_exchange(measurements_parquet, algorithm):
    """Centroid, distance, percentiles and threshold are window aggregates
    over one bssid partitioning: one parquet scan, one bssid exchange (the
    aggregate + join-back form re-scanned and re-shuffled per aggregate)."""
    import re

    out = flag_global_outliers(measurements_parquet, algorithm=algorithm)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(bssid", plan)) == 1, plan
    assert out.count() == measurements_parquet.count()


def test_localize_all_with_prior_is_one_python_pass(measurements):
    """With a prior for EVERY bssid, MLE and BAYESIAN run in one mapInPandas
    and only BAYESIAN-tier APs fuse their prior: labels equal the tiers."""
    from wifi_location_data_pipeline_spark.operators.localization import wcl_prior_state

    flagged = flag_global_outliers(measurements, algorithm="MAD", exact=True)
    out = localize_all(flagged, prior_state=wcl_prior_state(measurements))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    tiers = {r["bssid"]: r["tier"] for r in tier_routing(flagged).collect()}
    labels = {r["bssid"]: r["algorithm"] for r in out.collect()}
    assert labels == tiers
    assert set(tiers.values()) == {"WCL", "MLE", "BAYESIAN"}


def test_per_ap_stats_and_sufficiency(measurements):
    stats = {r["bssid"]: r for r in per_ap_stats(measurements).collect()}
    assert stats["aa:00:00:00:00:10"]["total_measurements"] == 10
    assert stats["aa:00:00:00:00:13"]["total_measurements"] == 150
    suff = {r["bssid"] for r in sufficient_aps(measurements).collect()}
    assert "aa:00:00:00:00:10" not in suff          # below bootstrap N=20
    assert "aa:00:00:00:00:11" in suff
    qm = ap_quality_metrics(measurements)
    assert qm.filter("avg_quality_weight between 1.0 and 2.0").count() == qm.count()


def test_tier_routing(measurements):
    tiers = {r["bssid"]: r["tier"] for r in tier_routing(measurements).collect()}
    assert "aa:00:00:00:00:10" not in tiers
    assert tiers["aa:00:00:00:00:11"] == "WCL"      # 35 rows
    assert tiers["aa:00:00:00:00:12"] == "MLE"      # 80 rows
    assert tiers["aa:00:00:00:00:13"] == "BAYESIAN"  # 150 rows


def test_localization_recovers_planted_positions(measurements):
    truth = {
        "aa:00:00:00:00:11": (40.7520, -73.9880),
        "aa:00:00:00:00:12": (40.7540, -73.9860),
        "aa:00:00:00:00:13": (40.7560, -73.9840),
    }
    # clean the planted outliers first, as the real job would
    flagged = flag_global_outliers(measurements, algorithm="MAD", exact=True)
    results = {r["bssid"]: r for r in localize_all(flagged).collect()}
    for bssid, (tlat, tlon) in truth.items():
        r = results[bssid]
        err_m = math.hypot(
            (r["latitude"] - tlat) * 111_000.0,
            (r["longitude"] - tlon) * 111_000.0 * math.cos(math.radians(tlat)),
        )
        assert err_m < 60.0, f"{bssid} ({r['algorithm']}): {err_m:.1f} m"
    assert results["aa:00:00:00:00:11"]["algorithm"] == "WCL"
    assert results["aa:00:00:00:00:12"]["algorithm"] == "MLE"


def test_mle_localize_batch_matches_grouped(measurements):
    """The packed lockstep-batched MLE must agree with the per-AP
    applyInPandas reference implementation."""
    from wifi_location_data_pipeline_spark.operators.localization import (
        mle_localize,
        mle_localize_grouped,
    )

    m = measurements.filter(F.col("rssi").isNotNull())
    batch = {r["bssid"]: r for r in mle_localize(m).collect()}
    grouped = {r["bssid"]: r for r in mle_localize_grouped(m).collect()}
    assert set(batch) == set(grouped) and batch
    for b, r in batch.items():
        g = grouped[b]
        assert r["measurement_count"] == g["measurement_count"], b
        for c in ("latitude", "longitude", "horizontal_accuracy", "confidence"):
            assert abs(r[c] - g[c]) < 1e-9, (b, c, r[c], g[c])


def test_behavioral_hotspot_detection(measurements):
    hotspots = {r["bssid"] for r in behavioral_hotspot_bssids(measurements).collect()}
    assert "aa:00:00:00:00:20" in hotspots          # 2km spatial spread
    assert "aa:00:00:00:00:21" in hotspots          # AndroidAP ssid
    assert "aa:00:00:00:00:12" not in hotspots
    remaining = delete_hotspot_rows(measurements, behavioral_hotspot_bssids(measurements))
    assert remaining.filter(F.col("bssid") == "aa:00:00:00:00:20").count() == 0


def test_relocation_detection(measurements):
    split = {r["bssid"]: r for r in relocation_by_time_split(measurements).collect()}
    assert split["aa:00:00:00:00:30"]["relocated"]
    assert not split.get("aa:00:00:00:00:12", {"relocated": False})["relocated"]
    candidates = relocation_by_time_split(measurements).filter("relocated")
    db = {r["bssid"]: r for r in relocation_by_dbscan(measurements, candidates).collect()}
    assert db["aa:00:00:00:00:30"]["n_clusters"] >= 2
    assert db["aa:00:00:00:00:30"]["relocated"]


def test_lof_scores(measurements):
    one_ap = measurements.filter(F.col("bssid") == "aa:00:00:00:00:13")
    lof = local_outlier_factor(one_ap)
    joined = one_ap.join(lof, ["bssid", "id"])
    avg = joined.groupBy("is_outlier_truth").agg(F.avg("lof").alias("m")).collect()
    by_truth = {r["is_outlier_truth"]: r["m"] for r in avg}
    assert by_truth[True] > by_truth[False]          # planted outliers score higher


def test_lof_ignores_row_order(spark):
    """A lattice AP is full of equidistant neighbours, so a kNN that breaks
    ties by row position scores the same points differently per arrival
    order. Twenty copies of one 60-point lattice, each shuffled, must get
    identical scores point for point."""
    import random

    points = [
        (f"p{i:02d}", 40.0 + (i // 10) * 5e-5, -75.0 + (i % 10) * 5e-5) for i in range(60)
    ]
    rows = []
    for copy in range(20):
        order = list(points)
        random.Random(copy).shuffle(order)
        rows += [(f"ap{copy:02d}", pid, lat, lon) for pid, lat, lon in order]
    df = spark.createDataFrame(rows, "bssid string, id string, latitude double, longitude double")
    scores: dict[str, set[float]] = {}
    for r in local_outlier_factor(df, max_rows_per_ap=None).collect():
        scores.setdefault(r["id"], set()).add(r["lof"])
    assert len(scores) == 60
    assert all(len(s) == 1 for s in scores.values()), {
        pid: sorted(s) for pid, s in scores.items() if len(s) > 1
    }


def test_dbscan_labels_border_noise_and_lone_point():
    """Border points take the smallest label among their core neighbours
    (not the cluster their row meets first), points whose neighbours are
    all non-core are noise, and labels follow the points under any row
    order."""
    import numpy as np

    from wifi_location_data_pipeline_spark.operators.relocation import dbscan_labels

    pts = {
        # cluster A (ids 10-13) first in row order, cluster B (ids 3-6) last
        10: (0.0, 0.0), 11: (1.0, 0.0), 12: (0.0, 1.0), 13: (1.0, 1.0),
        20: (2.5, 0.0),   # border: 1.5 from A's (1,0) and from B's (4,0)
        21: (9.0, 0.0), 22: (10.0, 0.0),  # a pair, neither core: noise
        0: (10.0, 10.0),  # far from everything: noise
        3: (4.0, 0.0), 4: (5.0, 0.0), 5: (4.0, 1.0), 6: (5.0, 1.0),
    }
    want_label = {
        10: 10, 11: 10, 12: 10, 13: 10, 20: 3, 21: -1, 22: -1, 0: -1, 3: 3, 4: 3, 5: 3, 6: 3,
    }
    want_core = {i: i in (3, 4, 5, 6, 10, 11, 12, 13) for i in pts}
    ids = list(pts)
    for perm in (ids, ids[::-1], sorted(ids)):
        xy = np.array([pts[i] for i in perm])
        label, core = dbscan_labels(xy, np.array(perm), eps=1.5, min_pts=4)
        assert dict(zip(perm, label.tolist())) == {i: want_label[i] for i in perm}
        assert dict(zip(perm, core.tolist())) == {i: want_core[i] for i in perm}

    # a lone point is noise unless min_pts admits a cluster of one
    lone = np.array([[0.0, 0.0]])
    label, core = dbscan_labels(lone, np.array([7]), eps=1.5, min_pts=4)
    assert label.tolist() == [-1] and core.tolist() == [False]
    label, core = dbscan_labels(lone, np.array([7]), eps=1.5, min_pts=1)
    assert label.tolist() == [7] and core.tolist() == [True]


def test_kalman_update_fusion_and_relocation(spark):
    prior = spark.createDataFrame(
        [("ap1", 40.0, -74.0, 100.0), ("ap2", 41.0, -75.0, 25.0)],
        "bssid string, latitude double, longitude double, p_var_m2 double",
    )
    new = spark.createDataFrame(
        [
            ("ap1", 40.0001, -74.0001, 10.0),    # small innovation → fuse
            ("ap2", 41.01, -75.01, 10.0),        # ~1.4 km jump → relocation reset
            ("ap3", 42.0, -76.0, 20.0),          # brand-new AP
        ],
        "bssid string, latitude double, longitude double, horizontal_accuracy double",
    )
    out = {r["bssid"]: r for r in kalman_update(prior, new).collect()}
    assert not out["ap1"]["relocated"]
    assert 40.0 < out["ap1"]["latitude"] < 40.0001   # pulled toward measurement
    assert out["ap1"]["p_var_m2"] < 100.0            # variance shrinks
    assert out["ap2"]["relocated"] and abs(out["ap2"]["latitude"] - 41.01) < 1e-9
    assert out["ap3"]["latitude"] == 42.0


def test_kalman_update_matches_streaming_fuse(spark):
    """The batch ``kalman_update`` and the stream's ``_fuse`` run one Kalman
    step: the same (state, estimate) pairs give equal fused state and equal
    relocation flags at the equator, at 40.74° and at 60°. Pair 1 moves
    6.3e-4° of longitude: 70 m at the equator, 35 m at 60°, against a 42 m
    relocation threshold, so it resets only where the longitude scale is
    cos(latitude)'s."""
    from wifi_location_data_pipeline_spark.streaming.state import _fuse

    offsets = ((1e-4, 1e-4), (0.0, 6.3e-4), (3e-4, 3e-4))
    pairs = [
        (f"{lat}-{k}", lat, -74.0, 100.0, lat + dlat, -74.0 + dlon, 10.0)
        for lat in (0.0, 40.74, 60.0)
        for k, (dlat, dlon) in enumerate(offsets)
    ]
    prior = spark.createDataFrame(
        [p[:4] for p in pairs], "bssid string, latitude double, longitude double, p_var_m2 double"
    )
    new = spark.createDataFrame(
        [(p[0], *p[4:]) for p in pairs],
        "bssid string, latitude double, longitude double, horizontal_accuracy double",
    )
    out = {r["bssid"]: r for r in kalman_update(prior, new).collect()}
    for bssid, lat, lon, p_var, z_lat, z_lon, acc in pairs:
        f_lat, f_lon, f_var, moved = _fuse((lat, lon, p_var, 1), z_lat, z_lon, acc**2)
        r = out[bssid]
        assert r["relocated"] == moved, bssid
        assert r["latitude"] == pytest.approx(f_lat, rel=1e-12, abs=0.0), bssid
        assert r["longitude"] == pytest.approx(f_lon, rel=1e-12, abs=0.0), bssid
        assert r["p_var_m2"] == pytest.approx(f_var, rel=1e-12, abs=0.0), bssid
    assert out["0.0-1"]["relocated"] and not out["60.0-1"]["relocated"]


def test_dml_emulation(spark):
    target = spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 2, "b"), ("k3", 3, "c")], "k string, v int, s string"
    )
    updates = spark.createDataFrame([("k2", 20), ("kX", 99)], "k string, v int")
    updated = {r["k"]: r for r in table_dml.update_columns_by_key(target, updates, ["k"], ["v"]).collect()}
    assert updated["k2"]["v"] == 20 and updated["k1"]["v"] == 1 and "kX" not in updated

    deleted = table_dml.delete_by_key(target, spark.createDataFrame([("k1",)], "k string"), ["k"])
    assert {r["k"] for r in deleted.collect()} == {"k2", "k3"}

    source = spark.createDataFrame([("k3", 30, "c2"), ("k4", 4, "d")], "k string, v int, s string")
    merged = {r["k"]: r for r in table_dml.merge_upsert(target, source, ["k"]).collect()}
    assert merged["k3"]["v"] == 30 and merged["k4"]["v"] == 4 and merged["k1"]["v"] == 1


def test_bayesian_tier_fuses_prior(measurements):
    """FRAMEWORK:163-169 parity: the BAYESIAN tier is MAP estimation. A vague
    prior must reproduce the MLE answer; a sharp planted prior must pin the
    estimate to it; an AP with no prior row degrades to (labeled) MLE."""
    from wifi_location_data_pipeline_spark.operators.localization import (
        bayesian_localize,
        mle_localize,
    )

    spark = measurements.sparkSession
    m = measurements.filter(F.col("rssi").isNotNull()).filter(
        F.col("bssid") == "aa:00:00:00:00:13"
    )
    mle = mle_localize(m).collect()[0]

    weak = spark.createDataFrame(
        [("aa:00:00:00:00:13", 40.7600, -73.9800, 1.0e12)],
        "bssid string, latitude double, longitude double, p_var_m2 double",
    )
    r_weak = bayesian_localize(m, weak).collect()[0]
    assert r_weak["algorithm"] == "BAYESIAN"
    assert abs(r_weak["latitude"] - mle["latitude"]) < 1e-5
    assert abs(r_weak["longitude"] - mle["longitude"]) < 1e-5

    plat, plon = 40.7600, -73.9800
    strong = spark.createDataFrame(
        [("aa:00:00:00:00:13", plat, plon, 1.0)],
        "bssid string, latitude double, longitude double, p_var_m2 double",
    )
    r_strong = bayesian_localize(m, strong).collect()[0]
    err_m = math.hypot(
        (r_strong["latitude"] - plat) * 111_000.0,
        (r_strong["longitude"] - plon) * 111_000.0 * math.cos(math.radians(plat)),
    )
    assert err_m < 10.0, f"strong prior ignored: {err_m:.1f} m off the prior"
    # posterior accuracy tightens: 1/P_post = 1/P_prior + 1/R_batch
    assert r_strong["horizontal_accuracy"] <= mle["horizontal_accuracy"]

    unrelated = spark.createDataFrame(
        [("ff:ff:00:00:00:01", plat, plon, 1.0)],
        "bssid string, latitude double, longitude double, p_var_m2 double",
    )
    r_none = bayesian_localize(m, unrelated).collect()[0]
    assert r_none["algorithm"] == "MLE"
    assert abs(r_none["latitude"] - mle["latitude"]) < 1e-9


def test_localize_with_history_routes_bayesian(measurements):
    """N>=100 APs must come out of the history loop as BAYESIAN; the other
    tiers are untouched relative to localize_all."""
    from wifi_location_data_pipeline_spark.operators.localization import (
        localize_with_history,
    )

    flagged = flag_global_outliers(measurements, algorithm="MAD", exact=True)
    routing = {r["bssid"]: r["tier"] for r in tier_routing(flagged).collect()}
    out = {r["bssid"]: r for r in localize_with_history(flagged).collect()}
    assert set(out) == set(routing)
    assert any(t == "BAYESIAN" for t in routing.values())
    for bssid, tier in routing.items():
        got = out[bssid]["algorithm"]
        assert got == tier, (bssid, tier, got)


def test_lof_pandas_matches_sql_twin(spark):
    """The applyInPandas LOF (production tier) and the pure-SQL LOF twin
    (lof_closed_form, driver value-checked) must agree on the same capped
    per-AP input — same k, same cap, same deterministic points. Tolerance
    0.05 absorbs the projection-center difference (pandas centers on the
    group mean, the SQL on the exact lattice anchor ~10 m away; LOF is
    translation-invariant and the scale factor differs by <1e-5)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.plans.queries import QUERIES, measurements_cte
    from wifi_location_data_pipeline_spark.plans.dialect import SPARK as SPARK_D
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    m = spark.sql(f"SELECT * FROM ({measurements_cte(SPARK_D)})")
    w = Window.partitionBy("ap_id").orderBy("event_id")
    capped = (
        m.withColumn("rn", F2.row_number().over(w))
        .filter(F2.col("rn") <= 40)
        .select(
            F2.col("ap_id").cast("string").alias("bssid"),
            F2.col("event_id").cast("string").alias("id"),
            "latitude",
            "longitude",
        )
    )
    pd_lof = {
        (r["bssid"], r["id"]): r["lof"]
        for r in local_outlier_factor(capped, k=5).collect()
    }
    sql_lof = {
        (str(r["ap_id"]), str(r["event_id"])): r["lof"]
        for r in QUERIES["lof_closed_form"].spark(spark, sf).collect()
    }
    assert set(pd_lof) == set(sql_lof)
    diffs = sorted(abs(pd_lof[key] - sql_lof[key]) for key in pd_lof)
    # the lattice corpus has exact duplicate points, so kNN TIE choices
    # differ between np.argsort (row order) and the SQL (dist, id) rule —
    # tied picks perturb individual scores but not the population: the
    # bulk must agree tightly, the worst tie-affected point loosely
    assert diffs[int(len(diffs) * 0.95)] <= 0.02, diffs[int(len(diffs) * 0.95)]
    assert diffs[-1] <= 0.25, diffs[-1]
    # both find genuinely varying scores (not a degenerate all-1.0 pass)
    assert max(sql_lof.values()) > 1.05


def test_skew_caps_bound_pandas_tier_input(spark):
    """A hot BSSID (10k rows, one key — SURVEY's skew risk) must be capped
    INSIDE the library operators before the O(n²) pandas tier: the default
    max_rows_per_ap caps LOF at 400 and DBSCAN at 300 rows per AP, so a
    direct caller cannot build a 10k×10k distance matrix on one executor."""
    rows = [
        (
            "aa:bb:cc:dd:ee:ff", f"id-{i:05d}", 40.0 + (i % 7) * 1e-4,
            -75.0 + (i % 11) * 1e-4, 1_700_000_000_000 + i * 1000,
        )
        for i in range(10_000)
    ]
    df = spark.createDataFrame(
        rows,
        "bssid string, id string, latitude double, longitude double, "
        "measurement_timestamp long",
    )
    # LOF scores exactly max_rows_per_ap rows — the rest never reach pandas
    assert local_outlier_factor(df).count() == 400
    assert local_outlier_factor(df, max_rows_per_ap=50).count() == 50
    # DBSCAN emits one row per AP regardless; prove the cap via the plan:
    # the pandas tier consumes a row_number-filtered relation
    capped_plan = relocation_by_dbscan(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in capped_plan and "300" in capped_plan
    uncapped_plan = (
        relocation_by_dbscan(df, max_rows_per_ap=None)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "row_number" not in uncapped_plan
