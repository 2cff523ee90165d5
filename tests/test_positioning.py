"""Positioning ensemble golden-range tests.

Mirrors the reference's acceptance corpus
(wifi-positioning-service/scripts/test/run-comprehensive-tests.sh:553-1079):
single-AP proximity, 2-AP, 3-AP trilateration, 4+-AP MLE, all-weak,
collinear, physics-impossible, unknown MACs, status filtering. Assertions are
numeric ranges + methods-used sets, like the reference's check_range.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from tests.wifi_fixtures import (
    RANDOMIZED_CORPORA,
    make_access_points,
    randomized_positioning_corpus,
)
from wifi_location_data_pipeline_spark.positioning.onepass import position_requests_onepass
from wifi_location_data_pipeline_spark.schemas import (
    POSITIONING_REQUEST_SCHEMA,
    WIFI_ACCESS_POINTS_SCHEMA,
)

# Well-spread AP layout over a ~400m block (non-collinear at the reference's
# 0.0002° line-deviation threshold). Signal strengths in the scenarios are
# hand-set per scenario, exactly like the reference's seed corpus
# (scripts/setup/wifi-positioning-test-data.sh).
APS = [
    # mac, lat, lon, alt, vendor, status, freq
    ("00:aa:00:00:00:01", 40.7600, -73.9855, 10.0, "cisco", "active", 2437),
    ("00:aa:00:00:00:02", 40.7565, -73.9880, 12.0, "aruba", "active", 5180),
    ("00:aa:00:00:00:03", 40.7565, -73.9830, 9.0, "ubiquiti", "verified", 2412),
    ("00:aa:00:00:00:04", 40.7600, -73.9880, 11.0, "ruckus", "warning", 5240),
    ("00:aa:00:00:00:05", 40.7562, -73.9855, 10.0, "meraki", "test", 2462),
    # collinear trio along a street (identical longitude)
    ("00:bb:00:00:00:01", 40.7600, -73.9900, 10.0, "cisco", "active", 2437),
    ("00:bb:00:00:00:02", 40.7604, -73.9900, 10.0, "cisco", "active", 2437),
    ("00:bb:00:00:00:03", 40.7608, -73.9900, 10.0, "cisco", "active", 2437),
    # invalid-status AP
    ("00:cc:00:00:00:01", 40.7560, -73.9850, 10.0, "other", "expired", 2437),
]

CENTER = (40.7582, -73.9856)


def scan(mac, strength, freq=2437):
    return {"macAddress": mac, "signalStrength": float(strength), "frequency": freq,
            "ssid": "t", "linkSpeed": None, "channelWidth": 20}


def req(rid, scans):
    return {"requestId": rid, "client": "test", "application": "pytest",
            "calculationDetail": True, "wifiScanResults": scans}


def kernel_gate_pass(rdf):
    """Request ids that pass the kernel's physics gate and yield rows."""
    from wifi_location_data_pipeline_spark.positioning.onepass_kernel import gate_and_explode

    return set(gate_and_explode(rdf.toArrow()).column("request_id").to_pylist())


def golden_ap_rows():
    return [
        {"mac_addr": m, "version": "1", "latitude": la, "longitude": lo, "altitude": al,
         "horizontal_accuracy": 8.0, "vertical_accuracy": 4.0, "confidence": 0.7,
         "ssid": "t", "frequency": fq, "vendor": v, "status": st, "geohash": "dr5ru7"}
        for m, la, lo, al, v, st, fq in APS
    ]


@pytest.fixture(scope="module")
def ap_df(spark):
    return spark.createDataFrame(golden_ap_rows(), WIFI_ACCESS_POINTS_SCHEMA).cache()


def run(spark, ap_df, requests):
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    out = position_requests_onepass(rdf, ap_df)
    return {r["request_id"]: r for r in out.collect()}


def test_ap_index_one_broadcast_per_content(spark, tmp_path):
    """Repeated positioning calls on one AP table reuse one AP-index
    broadcast (each broadcast pickles a file into the driver's temp dir). A
    table rewritten at the same path is new content: it gets a new index,
    which replaces the held one, so the temp dir and the held set stay at
    one index however often the table changes, and the answers follow the
    table."""
    from wifi_location_data_pipeline_spark.positioning import onepass

    mac = APS[0][0]
    rows = [dict(r, confidence=0.71) for r in golden_ap_rows()]
    path = str(tmp_path / "aps")
    spark.createDataFrame(rows, WIFI_ACCESS_POINTS_SCHEMA).write.parquet(path)
    rdf = spark.createDataFrame([req("r", [scan(mac, -55.0)])], POSITIONING_REQUEST_SCHEMA)
    temp_dir = spark.sparkContext._temp_dir
    app = spark.sparkContext.applicationId
    before = set(os.listdir(temp_dir))
    for _ in range(5):
        first = position_requests_onepass(rdf, spark.read.parquet(path)).collect()
    assert len(set(os.listdir(temp_dir)) - before) == 1
    held = onepass._AP_INDEX[app][1]

    for k in range(1, 5):
        moved = [
            dict(r, latitude=r["latitude"] + 0.01 * k) if r["mac_addr"] == mac else r
            for r in rows
        ]
        spark.createDataFrame(moved, WIFI_ACCESS_POINTS_SCHEMA).write.mode(
            "overwrite").parquet(path)
        answer = position_requests_onepass(rdf, spark.read.parquet(path)).collect()
        assert answer[0]["latitude"] == pytest.approx(
            first[0]["latitude"] + 0.01 * k, abs=1e-9)
        assert answer[0]["longitude"] == first[0]["longitude"]
        assert onepass._AP_INDEX[app][1] is not held
        held = onepass._AP_INDEX[app][1]
        new = set(os.listdir(temp_dir)) - before
        assert new == {os.path.basename(held._path)}


def golden_requests():
    macs = [a[0] for a in APS[:5]]
    freqs = [a[6] for a in APS[:5]]
    return [
        req("single_ap", [scan("00:aa:00:00:00:01", -55.0)]),
        req("two_aps", [scan(macs[0], -60.0, freqs[0]), scan(macs[1], -65.0, freqs[1])]),
        req("three_aps", [scan(macs[0], -65.0, freqs[0]), scan(macs[1], -68.0, freqs[1]),
                          scan(macs[2], -70.0, freqs[2])]),
        req("four_plus", [scan(macs[0], -62.0, freqs[0]), scan(macs[1], -66.0, freqs[1]),
                          scan(macs[2], -70.0, freqs[2]), scan(macs[3], -72.0, freqs[3]),
                          scan(macs[4], -75.0, freqs[4])]),
        req("all_weak", [scan(m, -97.0) for m, *_ in APS[:4]]),
        req("collinear", [
            scan("00:bb:00:00:00:01", -60.0),
            scan("00:bb:00:00:00:02", -58.0),
            scan("00:bb:00:00:00:03", -62.0),
        ]),
        req("impossible", [scan("00:aa:00:00:00:01", -35.0),
                           scan("00:aa:00:00:00:02", -95.0, 2437)]),
        req("unknown_macs", [scan("ff:00:00:00:00:01", -60.0)]),
        req("bad_status", [scan("00:cc:00:00:00:01", -60.0)]),
    ]


@pytest.fixture(scope="module")
def results(spark, ap_df):
    return run(spark, ap_df, golden_requests())


def dist_m(r, target):
    return math.hypot(
        (r["latitude"] - target[0]) * 111_000.0,
        (r["longitude"] - target[1]) * 111_000.0 * math.cos(math.radians(target[0])),
    )


def test_single_ap_proximity(results):
    r = results["single_ap"]
    assert r["methods_used"] == ["proximity"]
    assert abs(r["latitude"] - 40.7600) < 1e-9 and abs(r["longitude"] - (-73.9855)) < 1e-9
    assert 0.0 < r["confidence"] <= 0.85


def test_two_aps_uses_ratio_family(results):
    r = results["two_aps"]
    assert "rssi_ratio" in r["methods_used"] or "weighted_centroid" in r["methods_used"]
    assert "trilateration" not in r["methods_used"]
    assert "maximum_likelihood" not in r["methods_used"]
    # position lands in the AP neighborhood (hull spans ~450 m)
    assert dist_m(r, CENTER) < 400


def test_three_aps_trilateration_eligible(results):
    r = results["three_aps"]
    assert "trilateration" in r["methods_used"]
    assert dist_m(r, CENTER) < 400


def test_four_plus_mle(results):
    r = results["four_plus"]
    assert "maximum_likelihood" in r["methods_used"]
    assert dist_m(r, CENTER) < 400
    assert r["accuracy"] > 0


def test_all_weak_proximity_only(results):
    r = results["all_weak"]
    assert r["methods_used"] == ["proximity"]


def test_collinear_disqualifies_trilateration(results):
    r = results["collinear"]
    assert "trilateration" not in r["methods_used"]
    # combined confidence capped for collinear geometry cascades
    assert r["confidence"] <= 0.85


def test_impossible_physics_rejected(results):
    assert "impossible" not in results


def test_unknown_macs_rejected(results):
    assert "unknown_macs" not in results


def test_bad_status_ap_unusable(results):
    assert "bad_status" not in results


def extended_requests():
    """Further scenarios from the reference acceptance corpus
    (run-comprehensive-tests.sh:553-1079): high-density cluster, mixed
    quality, repeated time-series scans, duplicate-mac handling."""
    macs = [a[0] for a in APS[:5]]
    freqs = [a[6] for a in APS[:5]]
    return [
        # high-density: all 5 spread APs strong → MLE-eligible, tight answer
        req("high_density", [scan(m, -52.0 - i, f) for i, (m, f) in enumerate(zip(macs, freqs))]),
        # mixed quality: two strong + three very weak
        req("mixed_quality", [scan(macs[0], -45.0, freqs[0]), scan(macs[1], -50.0, freqs[1]),
                              scan(macs[2], -88.0, freqs[2]), scan(macs[3], -89.0, freqs[3]),
                              scan(macs[4], -90.0, freqs[4])]),
        # time-series: the same AP scanned repeatedly (duplicate macs in one
        # request) — keep-first dedup must apply, proximity-family answer
        req("time_series", [scan(macs[0], -60.0, freqs[0]), scan(macs[0], -61.0, freqs[0]),
                            scan(macs[0], -59.0, freqs[0])]),
        # 3D: altitude present on every AP → combined altitude is plausible
        req("three_d", [scan(m, -58.0 - 2 * i, f) for i, (m, f) in enumerate(zip(macs[:4], freqs[:4]))]),
    ]


@pytest.fixture(scope="module")
def extended_results(spark, ap_df):
    return run(spark, ap_df, extended_requests())


def test_high_density_cluster(extended_results):
    r = extended_results["high_density"]
    assert "maximum_likelihood" in r["methods_used"] or "trilateration" in r["methods_used"]
    assert dist_m(r, CENTER) < 300
    assert r["confidence"] >= 0.5


def test_mixed_quality_strong_signals_dominate(extended_results):
    r = extended_results["mixed_quality"]
    # the two strong APs sit north/center; answer must not be dragged to the
    # weak trio's centroid more than the hull allows
    assert dist_m(r, CENTER) < 400
    assert r["accuracy"] > 0


def test_time_series_duplicate_macs(extended_results):
    r = extended_results["time_series"]
    # one distinct AP after keep-first dedup → single-AP behavior
    assert r["methods_used"] == ["proximity"]
    assert abs(r["latitude"] - 40.7600) < 1e-9


def test_three_d_altitude(extended_results):
    r = extended_results["three_d"]
    alts = [a[3] for a in APS[:4]]
    assert min(alts) - 1.0 <= r["altitude"] <= max(alts) + 1.0


def test_calculation_info_diagnostics(results):
    """The CalculationInfo analog: every answer carries the selected
    algorithms and their final selection weights."""
    r = results["four_plus"]
    info = {e["algorithm"]: e["weight"] for e in r["calculation_info"]}
    assert set(r["methods_used"]).issubset(info)
    assert all(w > 0 for w in info.values())


def multipass_parity_requests():
    macs = [a[0] for a in APS[:5]]
    freqs = [a[6] for a in APS[:5]]
    return [
        req("p1", [scan(macs[0], -55.0, freqs[0])]),
        req("p2", [scan(macs[0], -60.0, freqs[0]), scan(macs[1], -65.0, freqs[1])]),
        req("p3", [scan(m, -60.0 - 4 * i, f) for i, (m, f) in enumerate(zip(macs[:3], freqs[:3]))]),
        req("p5", [scan(m, -58.0 - 3 * i, f) for i, (m, f) in enumerate(zip(macs, freqs))]),
        req("pw", [scan(m, -97.0) for m, *_ in APS[:4]]),
        req("pc", [scan(f"00:bb:00:00:00:0{k}", -58.0 - k) for k in (1, 2, 3)]),
    ]


def duplicate_mac_requests():
    macs = [a[0] for a in APS[:5]]
    return [
        req("dup_rssi", [scan(macs[0], -60.0, 2437), scan(macs[1], -64.0, 5180),
                         scan(macs[0], -66.0, 5180), scan(macs[2], -70.0, 2412),
                         scan(macs[3], -72.0, 5240)]),
        req("dup_null_freq", [scan(macs[1], -62.0, 5180), scan(macs[0], -61.0, 2437),
                              scan(macs[1], -62.0, None), scan(macs[2], -68.0, None),
                              scan(macs[3], -70.0, 5240), scan(macs[4], -74.0, 2462)]),
    ]


@pytest.fixture(scope="module")
def multipass_answers(spark):
    """The row-wise reference plan, run ONCE over the union of every
    multipass parity test's requests: the golden-AP request sets and each
    randomized corpus, whose tagged macs keep the corpora apart in one AP
    dimension. request_id → answer row."""
    from wifi_location_data_pipeline_spark.positioning.pipeline import (
        position_requests_multipass,
    )

    requests = multipass_parity_requests() + duplicate_mac_requests()
    ap_rows = golden_ap_rows()
    for corpus in RANDOMIZED_CORPORA:
        reqs, aps = randomized_positioning_corpus(*corpus)
        requests += reqs
        ap_rows += aps
    assert len({r["mac_addr"] for r in ap_rows}) == len(ap_rows)
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    aps = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)
    return {r["request_id"]: r for r in position_requests_multipass(rdf, aps).collect()}


def multipass_for(multipass_answers, requests):
    """The reference answers of one parity test's own requests."""
    rids = {r["requestId"] for r in requests}
    return {rid: r for rid, r in multipass_answers.items() if rid in rids}


def test_onepass_matches_multipass(spark, ap_df, multipass_answers):
    """The one-shuffle array-native plan must agree with the phase-by-phase
    row-wise reference plan on every fixture request."""
    requests = multipass_parity_requests()
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    one = {r["request_id"]: r for r in position_requests_onepass(rdf, ap_df).collect()}
    multi = multipass_for(multipass_answers, requests)
    assert set(one) == set(multi) and one
    for rid, a in one.items():
        b = multi[rid]
        assert sorted(a["methods_used"]) == sorted(b["methods_used"]), rid
        for c in ("latitude", "longitude", "altitude", "accuracy", "confidence"):
            assert abs(a[c] - b[c]) < 1e-6, (rid, c, a[c], b[c])


def test_numeric_batched_matches_sequential():
    """The batched numeric twins the one-pass kernel runs (_trilat_arrays,
    lockstep _mle_batch) must agree with the sequential reference forms the
    multipass plan runs (_trilaterate_group, _mle_group): same math,
    different batching."""
    import pandas as pd

    from wifi_location_data_pipeline_spark.positioning.numeric import (
        _mle_batch,
        _mle_group,
        _trilat_arrays,
        _trilaterate_group,
    )

    # group sizes 2..8 over the first 8 (all usable) fixture APs, as the
    # ap_df fixture resolves them: exercises the <3-AP trilateration and
    # <4-AP MLE bail-outs and the padded-tensor batching across ragged sizes
    aps = APS[:8]
    pdfs = [
        pd.DataFrame({
            "signal_strength": [-55.0 - 4 * i - 2 * k for i in range(2 + k)],
            "frequency": [2437] * (2 + k),
            "ap_lat": [a[1] for a in aps[: 2 + k]],
            "ap_lon": [a[2] for a in aps[: 2 + k]],
            "ap_alt": [a[3] for a in aps[: 2 + k]],
            "ap_confidence": [0.7] * (2 + k),
        })
        for k in range(7)
    ]
    groups = [
        {key: pdf[col].to_numpy(dtype=float) for key, col in (
            ("rssi", "signal_strength"), ("freq", "frequency"), ("lat", "ap_lat"),
            ("lon", "ap_lon"), ("conf", "ap_confidence"), ("alt", "ap_alt"))}
        for pdf in pdfs
    ]
    batched = {}
    sequential = {}
    for k, (pdf, g, mle) in enumerate(zip(pdfs, groups, _mle_batch(groups))):
        for alg, b, q in (("trilateration", _trilat_arrays(g), _trilaterate_group(pdf)),
                          ("maximum_likelihood", mle, _mle_group(pdf))):
            if b is not None:
                batched[(k, alg)] = b
            if q is not None:
                sequential[(k, alg)] = q
    assert set(batched) == set(sequential) and len(batched) == 11
    for key, b in batched.items():
        # latitude, longitude, accuracy, confidence
        for c in (0, 1, 3, 4):
            assert abs(b[c] - sequential[key][c]) < 1e-9, (key, c)


def test_physics_gate_array_matches_rowwise(spark):
    """The kernel's nested-array physics gate (gate_and_explode) must agree
    with the row-wise groupBy gate on randomized scan sets dense in the
    boundary cases (-100/-30 exact bounds, the >-50 strong gate, 45 dB
    spread edge)."""
    import random

    from wifi_location_data_pipeline_spark.positioning.prepare import (
        explode_requests,
        physics_gate,
    )
    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA

    rng = random.Random(7)
    boundary = [-100.0, -99.0, -95.0, -80.0, -51.0, -50.0, -49.0, -35.0, -31.0, -30.0, -29.0, -101.0]
    reqs = []
    for k in range(60):
        n = rng.randint(1, 8)
        scans = [
            {
                "macAddress": f"00:00:00:00:{k:02x}:{i:02x}",
                "signalStrength": rng.choice(boundary) if rng.random() < 0.7
                else float(rng.randint(-105, -25)),
                "frequency": rng.choice([2437, 2437, 5180]),
                "ssid": "t", "linkSpeed": None, "channelWidth": None,
            }
            for i in range(n)
        ]
        reqs.append({"requestId": f"q{k}", "client": "t", "application": "t",
                     "calculationDetail": False, "wifiScanResults": scans})
    rdf = spark.createDataFrame(reqs, POSITIONING_REQUEST_SCHEMA)

    array_pass = kernel_gate_pass(rdf)
    rowwise_pass = {
        r["request_id"]
        for r in physics_gate(explode_requests(rdf)).select("request_id").distinct().collect()
    }
    assert array_pass == rowwise_pass
    assert 0 < len(array_pass) < 60  # both branches of the gate exercised


def test_selection_table_is_select_phase_on_every_context():
    """The one selection table against ``select_phase`` run on each of the
    480 SelectionContexts alone: the row at the context's code holds the
    same selected set and bit-equal weights, its ``calculation_info`` lists
    that set in rank order (weight desc, name asc), and its
    ``selection_info`` selects the same set at the same weights."""
    import itertools

    import numpy as np

    from wifi_location_data_pipeline_spark.positioning import onepass_kernel as K
    from wifi_location_data_pipeline_spark.positioning.selection import ALGORITHMS

    table = K.selection_table()
    calc, info = table.calculation_info.to_pylist(), table.selection_info.to_pylist()
    context = table.selection_context.to_pylist()
    labels = (K._APC, K._SQ, K._GQ, K._SD, (False, True))
    combos = list(itertools.product(*(range(len(t)) for t in labels)))
    assert len(combos) == len(calc) == len(info) == 480
    fallback, floored = [], 0
    for combo in combos:
        apc, sq, gq, sd, avw = (np.array([c]) for c in combo)
        code = int(K._context_code(apc, sq, gq, sd, avw == 1)[0])
        assert context[code] == dict(zip(K.CONTEXT_FIELDS, (t[c] for t, c in zip(labels, combo))))
        one = K.select_phase(apc, sq, gq, sd, avw == 1)
        assert (table.sel[code] == one["sel"][0]).all(), combo
        expect = {ALGORITHMS[a]: float(one["sel_w"][0, a]).hex() for a in np.flatnonzero(one["sel"][0])}
        assert [float(w).hex() for w in table.sel_w[code]] == [
            float(w).hex() for w in one["sel_w"][0]], combo
        ranked = sorted(expect.items(), key=lambda kv: (-float.fromhex(kv[1]), kv[0]))
        assert [(e["algorithm"], e["weight"].hex()) for e in calc[code]] == ranked, combo
        assert {e["algorithm"]: e["weight"].hex() for e in info[code] if e["selected"]} == expect
        assert [e["algorithm"] for e in info[code]] == sorted(ALGORITHMS)
        selected = [e for e in info[code] if e["selected"]]
        if any("SELECTED (best algorithm, below threshold 0.40)" in r
               for e in selected for r in e["reasons"]):
            fallback.append(tuple(t[c] for t, c in zip(labels, combo)))
        floored += any(", floored from" in r for e in selected for r in e["reasons"])
    # the rank-1 fallback answers the single weak AP under mixed or outlying
    # signals (proximity under 0.4, log-distance lower), and only it; the
    # 0.5 floor lifts 265 of the 300 very weak contexts' proximity weight
    assert sorted(fallback) == sorted(
        ("SINGLE_AP", "WEAK_SIGNAL", gq, sd, False)
        for gq in K._GQ for sd in ("MIXED_SIGNALS", "SIGNAL_OUTLIERS")
    )
    assert floored == 265


def test_selection_reasons_print_java_two_decimals():
    """Every number in a reason prints as Java's %.2f of the double: the
    shortest repr rounded half up. 0.3 × 0.5 × 1.0 × 0.7 is the double
    0.105 (just under it in binary), which Java prints 0.11; so is
    trilateration's 1.0 × 0.3 × 0.3 × 0.5 = 0.045 → 0.05."""
    import numpy as np

    from wifi_location_data_pipeline_spark.positioning import onepass_kernel as K

    def reasons(apc, sq, gq, sd, avw, algorithm):
        code = K._context_code(*(np.array([t.index(v)]) for t, v in zip(
            (K._APC, K._SQ, K._GQ, K._SD), (apc, sq, gq, sd))), np.array([avw]))[0]
        info = K.selection_table().selection_info[int(code)].as_py()
        return next(e["reasons"] for e in info if e["algorithm"] == algorithm)

    assert reasons("THREE_APS", "VERY_WEAK_SIGNAL", "EXCELLENT_GDOP", "MIXED_SIGNALS",
                   False, "proximity") == [
        "Only viable algorithm for extremely weak signals",
        "SELECTED. Weight Calculation: Weight=0.50, floored from 0.11: base(0.30)"
        " × signal(0.50) × geometric(1.00) × distribution(0.70)",
    ]
    assert reasons("THREE_APS", "WEAK_SIGNAL", "POOR_GDOP", "SIGNAL_OUTLIERS",
                   False, "trilateration") == [
        "Valid for three APs",
        "DISQUALIFIED  (below threshold 0.40) . Weight Calculation: Weight=0.05:"
        " base(1.00) × signal(0.30) × geometric(0.30) × distribution(0.50)",
    ]


def test_with_reasons_answers_explain_their_selection(spark, ap_df):
    """Every answer of ``position_requests_onepass(with_reasons=True)`` over
    the golden and extended fixtures explains the selection it used: its
    ``selection_info`` is its context's row of the selection table and
    selects exactly its ``calculation_info``, at the same weights; the
    other columns equal the plain run's."""
    import numpy as np

    from wifi_location_data_pipeline_spark.positioning import onepass_kernel as K

    rdf = spark.createDataFrame(golden_requests() + extended_requests(),
                                POSITIONING_REQUEST_SCHEMA)
    rows = position_requests_onepass(rdf, ap_df, with_reasons=True).collect()
    plain = {r["request_id"]: r.asDict(recursive=True)
             for r in position_requests_onepass(rdf, ap_df).collect()}
    assert len(rows) >= 9 and len(rows) == len(plain)
    table = K.selection_table().selection_info
    for r in rows:
        assert {e["algorithm"]: e["weight"].hex() for e in r["selection_info"] if e["selected"]} \
            == {e["algorithm"]: e["weight"].hex() for e in r["calculation_info"]}, r["request_id"]
        ctx = r["selection_context"]
        code = K._context_code(*(np.array([t.index(ctx[f])]) for t, f in zip(
            (K._APC, K._SQ, K._GQ, K._SD), K.CONTEXT_FIELDS)), np.array([ctx["all_very_weak"]]))[0]
        assert [e.asDict(recursive=True) for e in r["selection_info"]] == table[int(code)].as_py()
        answer = r.asDict(recursive=True)
        del answer["selection_context"], answer["selection_info"]
        assert answer == plain[r["request_id"]]


def test_kernel_select_phase_matches_selector_on_every_context(spark):
    """The kernel's selection phase (``select_phase``, from which
    ``selection_table`` builds the one table every answer and its reasons
    read) against the row-wise multipass reference in
    positioning/selection.py (``select_algorithms``) on all 480
    SelectionContexts: the same selected set per context and bit-equal
    weights."""
    import itertools

    import numpy as np

    from wifi_location_data_pipeline_spark.positioning import onepass_kernel as K
    from wifi_location_data_pipeline_spark.positioning.selection import (
        ALGORITHMS,
        select_algorithms,
    )

    labels = (K._APC, K._SQ, K._GQ, K._SD, (False, True))
    codes = np.array(list(itertools.product(*(range(len(t)) for t in labels))))
    assert len(codes) == 480
    grid = spark.createDataFrame(
        [(i, *(t[c] for t, c in zip(labels, row))) for i, row in enumerate(codes.tolist())],
        "request_id bigint, " + ", ".join(
            f"{k} {'boolean' if k == 'all_very_weak' else 'string'}" for k in K.CONTEXT_FIELDS
        ),
    )
    expect: dict[int, dict[str, float]] = {i: {} for i in range(len(codes))}
    for r in select_algorithms(grid).collect():
        expect[r["request_id"]][r["algorithm"]] = r["weight"]

    res = K.select_phase(codes[:, 0], codes[:, 1], codes[:, 2], codes[:, 3], codes[:, 4] == 1)
    for i in range(len(codes)):
        got = {ALGORITHMS[a]: float(res["sel_w"][i, a]) for a in np.flatnonzero(res["sel"][i])}
        assert got.keys() == expect[i].keys(), codes[i]
        assert all(got[a].hex() == expect[i][a].hex() for a in got), codes[i]


# ---------------------------------------------------------------------------
# Round-4 scenario port: the acceptance-corpus classes that were still
# missing (run-comprehensive-tests.sh:834-1078): log-distance path-loss
# pairs, stable-signal pairs, very-weak single AP, mixed-status multi-AP
# filtering, 2D (null-altitude) positioning, invalid-status error shapes.
# ---------------------------------------------------------------------------

PATHLOSS_APS = [
    # path-loss pair (cases 26-30): strong, same 2.4 GHz channel, active
    ("00:dd:00:00:00:26", 40.7591, -73.9860, 20.0, "cisco", "active", 2462),
    ("00:dd:00:00:00:27", 40.7592, -73.9860, 20.0, "cisco", "active", 2462),
    # stable-signal pair (cases 31-35): same freq + ssid, equal strengths
    ("00:dd:00:00:00:31", 40.7593, -73.9861, 25.0, "aruba", "active", 5500),
    ("00:dd:00:00:00:32", 40.7594, -73.9861, 25.0, "aruba", "active", 5500),
    # very-weak single AP (case 38)
    ("00:dd:00:00:00:55", 40.7595, -73.9862, 15.0, "generic", "active", 2412),
    # mixed-status cluster (case 40): same spot, one per status
    ("00:ee:00:00:00:41", 40.7596, -73.9863, 15.0, "generic", "active", 2437),
    ("00:ee:00:00:00:42", 40.7596, -73.9863, 15.0, "generic", "warning", 2437),
    ("00:ee:00:00:00:43", 40.7596, -73.9863, 15.0, "generic", "error", 2437),
    ("00:ee:00:00:00:44", 40.7596, -73.9863, 15.0, "generic", "expired", 2437),
    ("00:ee:00:00:00:45", 40.7596, -73.9863, 15.0, "generic", "wifi-hotspot", 2437),
    # 2D pair (cases 50-55): null altitude
    ("00:ff:00:00:00:50", 40.7597, -73.9864, None, "generic", "active", 2437),
    ("00:ff:00:00:00:51", 40.7598, -73.9864, None, "generic", "active", 2437),
]


@pytest.fixture(scope="module")
def scenario4_results(spark):
    rows = [
        {"mac_addr": m, "version": "1", "latitude": la, "longitude": lo,
         "altitude": al, "horizontal_accuracy": 10.0,
         "vertical_accuracy": None if al is None else 4.0, "confidence": 0.8,
         "ssid": "t", "frequency": fq, "vendor": v, "status": st,
         "geohash": "dr5ru7"}
        for m, la, lo, al, v, st, fq in PATHLOSS_APS
    ]
    aps = spark.createDataFrame(rows, WIFI_ACCESS_POINTS_SCHEMA)
    requests = [
        # cases 26-30: two strong same-channel APs -> WCL + RSSI-ratio family
        req("pathloss", [scan("00:dd:00:00:00:26", -50.0, 2462),
                         scan("00:dd:00:00:00:27", -53.0, 2462)]),
        # cases 31-35: stable equal signals -> tight position between the APs
        req("stable", [scan("00:dd:00:00:00:31", -68.0, 5500),
                       scan("00:dd:00:00:00:32", -68.0, 5500)]),
        # case 38: very weak single AP -> proximity only, low confidence
        req("very_weak", [scan("00:dd:00:00:00:55", -99.9, 2412)]),
        # case 40: five same-spot APs, only active/warning statuses usable
        req("mixed_status", [scan(f"00:ee:00:00:00:4{i}", -70.0) for i in range(1, 6)]),
        # cases 50-55: null-altitude APs must still position in 2D
        req("two_d", [scan("00:ff:00:00:00:50", -60.0),
                      scan("00:ff:00:00:00:51", -64.0)]),
        # all-invalid-status request -> error shape (request dropped)
        req("all_invalid_status", [scan("00:ee:00:00:00:43", -70.0),
                                   scan("00:ee:00:00:00:44", -70.0)]),
    ]
    return run(spark, aps, requests)


def test_pathloss_pair_uses_centroid_ratio_family(scenario4_results):
    """Cases 26-30: strong 2-AP request -> weighted_centroid + rssi_ratio
    selected (trilat/MLE hard-excluded at 2 APs), position within the pair's
    ~11 m neighborhood, confidence in the reference's 0.40-0.60 band."""
    r = scenario4_results["pathloss"]
    used = set(r["methods_used"])
    assert "weighted_centroid" in used and "rssi_ratio" in used
    assert not {"trilateration", "maximum_likelihood"} & used
    assert dist_m(r, (40.75915, -73.9860)) < 30
    assert 0.30 <= r["confidence"] <= 0.80


def test_stable_equal_signals_land_between_aps(scenario4_results):
    """Cases 31-35: equal RSSI on both APs -> the weighted centroid sits at
    the midpoint; accuracy in a tight band (reference asserts 5-15 m)."""
    r = scenario4_results["stable"]
    assert dist_m(r, (40.75935, -73.9861)) < 10
    assert 0 < r["accuracy"] <= 25
    assert "weighted_centroid" in r["methods_used"]


def test_very_weak_single_ap_proximity_fallback(scenario4_results):
    """Case 38: -99.9 dBm single AP -> proximity ONLY (selection framework's
    very-weak hard constraint), position = the AP, confidence near floor."""
    r = scenario4_results["very_weak"]
    assert r["methods_used"] == ["proximity"]
    assert dist_m(r, (40.7595, -73.9862)) < 1
    assert r["confidence"] <= 0.15


def test_mixed_status_uses_only_valid_aps(scenario4_results):
    """Case 40: of five same-spot APs only active + warning are usable
    (VALID_AP_STATUSES, WifiAccessPoint.java:37-38); the answer is the
    cluster location and the diagnostics report exactly 2 APs used."""
    r = scenario4_results["mixed_status"]
    assert dist_m(r, (40.7596, -73.9863)) < 1
    assert r["calculation_info"] is not None
    # only 2 of the 5 APs survive the status filter -> the 2-AP hard
    # constraint must hold (trilateration/MLE need >= 3 / >= 4 USED APs)
    assert not {"trilateration", "maximum_likelihood"} & set(r["methods_used"])


def test_two_d_null_altitude_positions(scenario4_results):
    """Cases 50-55: APs without altitude must still position (2D path);
    altitude of the answer may be NULL but lat/lon are real."""
    r = scenario4_results["two_d"]
    assert r["latitude"] is not None and r["longitude"] is not None
    assert dist_m(r, (40.75975, -73.9864)) < 30


def test_all_invalid_status_request_errors(scenario4_results):
    """Error shape: a request whose every AP has an invalid status gets no
    position row — the DataFrame analog of the reference's ERROR response
    (case 36/39 family)."""
    assert "all_invalid_status" not in scenario4_results


def test_log_distance_vendor_exponent_pulls_toward_lower_n(spark):
    """Vendor path-loss table (LogDistancePathLossAlgorithm.java:160-181):
    at equal RSSI, a cisco AP (n=3.0) gets a SMALLER estimated distance
    than a ubiquiti AP (n=2.7) — d = 10^((ref-s)/(10n)) shrinks as n grows
    — so the inverse-distance-weighted position must land closer to the
    cisco AP. A generic/unknown vendor uses the ITU-R default n=3.0."""
    from wifi_location_data_pipeline_spark.positioning.algorithms import log_distance

    obs_schema = (
        "request_id string, mac_addr string, signal_strength double, "
        "frequency int, ap_lat double, ap_lon double, ap_alt double, "
        "ap_haccuracy double, ap_confidence double, ap_vendor string, "
        "n_scanned int"
    )
    lat_cisco, lat_ubi = 40.7500, 40.7600
    rows = [
        ("r1", "aa", -65.0, 2437, lat_cisco, -74.0, 10.0, 8.0, 0.8, "cisco", 2),
        ("r1", "bb", -65.0, 2437, lat_ubi, -74.0, 10.0, 8.0, 0.8, "ubiquiti", 2),
        # default-vendor twin: generic == cisco exponent (both n=3.0), so
        # equal pull -> midpoint
        ("r2", "aa", -65.0, 2437, lat_cisco, -74.0, 10.0, 8.0, 0.8, "cisco", 2),
        ("r2", "bb", -65.0, 2437, lat_ubi, -74.0, 10.0, 8.0, 0.8, "somethingelse", 2),
    ]
    out = {
        r["request_id"]: r
        for r in log_distance(spark.createDataFrame(rows, obs_schema)).collect()
    }
    mid = (lat_cisco + lat_ubi) / 2
    # r1: ubiquiti n=2.7 -> larger d -> smaller weight -> pulled toward cisco
    assert out["r1"]["latitude"] < mid
    # r2: both n=3.0 -> exactly the midpoint
    assert abs(out["r2"]["latitude"] - mid) < 1e-9


def test_onepass_numeric_methods_only_past_two_aps(spark, ap_df):
    """Selection gives trilateration and MLE base weight 0 at SINGLE_AP /
    TWO_APS: a ≤2-AP request never runs the numeric tier, neither in
    ``methods_used`` nor in ``calculation_info``, while a 5-AP request
    reaches it. The ``ensemble_closed_form`` oracle companion relies on
    this to stay closed-form."""
    macs = [a[0] for a in APS[:5]]
    freqs = [a[6] for a in APS[:5]]
    requests = [
        req("o1", [scan(macs[0], -55.0, freqs[0])]),
        req("o2", [scan(macs[0], -60.0, freqs[0]), scan(macs[1], -66.0, freqs[1])]),
        req("o3", [scan(m, -60.0 - i, f) for i, (m, f) in enumerate(zip(macs, freqs))]),
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    out = {r["request_id"]: r for r in position_requests_onepass(rdf, ap_df).collect()}
    assert set(out) == {"o1", "o2", "o3"}
    numeric = {"trilateration", "maximum_likelihood"}

    def used(r):
        return set(r["methods_used"]) | {e["algorithm"] for e in r["calculation_info"]}

    assert not used(out["o1"]) & numeric
    assert not used(out["o2"]) & numeric
    assert set(out["o3"]["methods_used"]) & numeric
    assert {e["algorithm"] for e in out["o3"]["calculation_info"]} & numeric


def test_onepass_plan_is_one_job_one_exchange(spark, ap_df):
    """Pin the plan shape: the whole ensemble is ONE job over the request
    scan and a single MapInArrow, with no exchange and no join (the kernel
    gates, explodes, joins the broadcast-variable AP index and packs each
    request itself) — no interior cache, no staged split, no numeric-count
    job (the round-2-5 staged-SQL design needed all three)."""
    from wifi_location_data_pipeline_spark.positioning.onepass import (
        position_requests_onepass,
    )

    macs = [a[0] for a in APS[:5]]
    freqs = [a[6] for a in APS[:5]]
    requests = [
        req("c1", [scan(macs[0], -60.0, freqs[0]), scan(macs[1], -66.0, freqs[1])]),
        req("c2", [scan(m, -60.0 - i, f) for i, (m, f) in
                   enumerate(zip(macs, freqs))]),
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    out = position_requests_onepass(rdf, ap_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "BroadcastHashJoin" not in plan and "Exchange" not in plan, plan
    assert {r["request_id"] for r in out.collect()} == {"c1", "c2"}


# ---------------------------------------------------------------------------
# Round-6 scenario port: the remaining acceptance families, with the EXACT
# seed AP records of scripts/setup/wifi-positioning-test-data.sh:149-220 and
# the request payloads + golden ranges of run-comprehensive-tests.sh:730-833
# (cases 11-15 high-density cluster, 16-20 mixed signal quality, 21-25
# time-series). Where the script's hand-computed weight comments disagree
# with its own framework tables, the assertions follow the framework tables
# (positioning/selection.py — the oracle-checked selection matrix).
# ---------------------------------------------------------------------------

SCENARIO6_APS = [
    # cases 11-15: dense collinear cluster, 5.3 GHz, Aruba, conf 0.88
    *[(f"00:11:22:33:44:{i}", 37.7760 + (i - 11) * 0.0002,
       -122.4200 + (i - 11) * 0.0002, 25.0, 12.0, 0.88,
       f"HighDensity_Test_{i}", 5320, "Aruba") for i in range(11, 16)],
    # cases 16-20: mixed-quality line, ascending channels, Ubiquiti
    *[(f"00:11:22:33:44:{i}", 37.7770 + (i - 16) * 0.0003,
       -122.4210 + (i - 16) * 0.0001, 30.0 + (i - 16) * 1.5,
       15.0 + (i - 16) * 3.0, 0.90 - (i - 16) * 0.1,
       f"MixedSignal_Test_{i}", 2412 + (i - 16) * 5, "Ubiquiti")
      for i in range(16, 21)],
    # cases 21-25: one physical spot scanned across hours (same lat/lon),
    # degrading accuracy/confidence per record
    *[(f"00:11:22:33:44:{i}", 37.7780, -122.4220, 22.0,
       10.0 + (i - 21) * 2.0, 0.85 - (i - 21) * 0.05,
       "TimeSeries_Test", 5500, "TP-Link") for i in range(21, 26)],
]


@pytest.fixture(scope="module")
def scenario6_results(spark):
    rows = [
        {"mac_addr": m, "version": "1", "latitude": la, "longitude": lo,
         "altitude": al, "horizontal_accuracy": ha, "vertical_accuracy": 4.0,
         "confidence": cf, "ssid": ss, "frequency": fq, "vendor": v,
         "status": "active", "geohash": "9q8yyk"}
        for m, la, lo, al, ha, cf, ss, fq, v in SCENARIO6_APS
    ]
    aps = spark.createDataFrame(rows, WIFI_ACCESS_POINTS_SCHEMA)
    requests = [
        # run-comprehensive-tests.sh:738-769 (payload verbatim)
        req("high_density_11_15", [
            scan("00:11:22:33:44:11", -65.0, 5320),
            scan("00:11:22:33:44:12", -63.5, 5320),
            scan("00:11:22:33:44:13", -62.0, 5320),
            scan("00:11:22:33:44:14", -60.5, 5320),
        ]),
        # run-comprehensive-tests.sh:778-806
        req("mixed_quality_16_20", [
            scan("00:11:22:33:44:16", -60.0, 2412),
            scan("00:11:22:33:44:17", -65.0, 2417),
            scan("00:11:22:33:44:18", -70.0, 2422),
        ]),
        # run-comprehensive-tests.sh:814-833
        req("time_series_21_25", [
            scan("00:11:22:33:44:21", -70.0, 5500),
            scan("00:11:22:33:44:22", -72.0, 5500),
        ]),
    ]
    return run(spark, aps, requests)


def test_high_density_cluster_11_15(scenario6_results):
    """Cases 11-15: four strong scans of a dense COLLINEAR 5 GHz cluster.
    Expected methods (script): weighted_centroid + maximum_likelihood —
    collinearity hard-excludes trilateration while WCL is boosted; the
    strong top weight (>0.8) clamps selection to top-2. Golden ranges from
    run_test: accuracy in [50, 60] m, confidence in [0.35, 0.55]."""
    r = scenario6_results["high_density_11_15"]
    assert set(r["methods_used"]) == {"weighted_centroid", "maximum_likelihood"}
    assert 50.0 <= r["accuracy"] <= 60.0
    assert 0.35 <= r["confidence"] <= 0.55
    # the answer sits inside the cluster's ~90 m span
    assert dist_m(r, (37.7763, -122.4197)) < 100


def test_mixed_signal_quality_16_20(scenario6_results):
    """Cases 16-20: three scans of mixed strength (-60/-65/-70) on adjacent
    2.4 GHz channels; the seed APs lie on a line, so trilateration is
    hard-excluded and the weighted centroid dominates (the script's band:
    accuracy [60, 75] m, confidence [0.35, 0.55]; its method list also
    names rssi_ratio, but by its own framework tables RSSI ratio lands at
    0.7x0.9x0.7x0.9 = 0.397 — below the 0.4 threshold at top-2, so the
    engine keeps WCL alone)."""
    r = scenario6_results["mixed_quality_16_20"]
    assert "weighted_centroid" in r["methods_used"]
    assert not {"trilateration", "maximum_likelihood"} & set(r["methods_used"])
    assert r["accuracy"] > 0 and 0.2 <= r["confidence"] <= 0.7
    assert dist_m(r, (37.7773, -122.4209)) < 120


def test_time_series_same_spot_21_25(scenario6_results):
    """Cases 21-25: the same physical AP location captured across hours as
    distinct records; a 2-scan request must select the WCL + RSSI-ratio
    family (2-AP hard constraint), land exactly on the shared location, and
    fall in the script's bands: accuracy [45, 60] m, confidence
    [0.35, 0.55]."""
    r = scenario6_results["time_series_21_25"]
    assert set(r["methods_used"]) == {"weighted_centroid", "rssi_ratio"}
    assert 45.0 <= r["accuracy"] <= 60.0
    assert 0.35 <= r["confidence"] <= 0.55
    assert dist_m(r, (37.7780, -122.4220)) < 5


@pytest.mark.parametrize("seed,signals", RANDOMIZED_CORPORA)
def test_onepass_matches_multipass_randomized(spark, seed, signals, multipass_answers):
    """Randomized kernel-vs-multipass parity net (round 6: the packed middle
    moved from staged SQL to the NumPy kernel, so pin equivalence on a
    corpus dense in the awkward shapes: NULL altitude / accuracy /
    confidence / vendor / frequency on the AP side, duplicate macs within a
    request, 1-20 scans, boundary signal strengths crossing every context
    class). Seeded: deterministic across runs."""
    requests, ap_rows = randomized_positioning_corpus(seed, signals)
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    ap_df = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)

    one = {r["request_id"]: r for r in position_requests_onepass(rdf, ap_df).collect()}
    multi = multipass_for(multipass_answers, requests)
    assert set(one) == set(multi)
    assert len(one) >= 15  # the corpus isn't degenerate (23 with this seed)
    for rid, a in one.items():
        b = multi[rid]
        assert sorted(a["methods_used"]) == sorted(b["methods_used"]), rid
        assert a["is_collinear"] == b["is_collinear"], rid
        for c in ("latitude", "longitude", "altitude", "accuracy", "confidence"):
            av, bv = a[c], b[c]
            if av is None or bv is None:
                assert av == bv, (rid, c)
            else:
                assert abs(av - bv) < 1e-6 * max(1.0, abs(bv)), (rid, c, av, bv)


@pytest.mark.parametrize(
    "corpus",
    ["golden", *RANDOMIZED_CORPORA],
    ids=["golden", "randomized_broad", "randomized_weak"],
)
def test_kernel_pack_across_arrow_batches(spark, ap_df, corpus):
    """The kernel packs and solves each Arrow batch on its own; every
    request is one input row, so none straddles two batches. With 3-request
    batches the answers must be identical to a run at the default batch
    size: a request's answer does not depend on which requests share its
    batch."""
    if corpus == "golden":
        rdf = spark.createDataFrame(golden_requests() + extended_requests(),
                                    POSITIONING_REQUEST_SCHEMA)
        aps = ap_df
    else:
        requests, ap_rows = randomized_positioning_corpus(*corpus)
        rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
        aps = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)

    def answers():
        out = position_requests_onepass(rdf, aps, with_reasons=True)
        return {r["request_id"]: r.asDict(recursive=True) for r in out.collect()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = answers()
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small = answers()
    finally:
        spark.conf.set(key, prev)
    assert len(default) >= 9
    assert small == default


def test_onepass_duplicate_mac_keeps_min_scan(spark, ap_df, multipass_answers):
    """A MAC scanned twice in one request keeps its minimum scan struct:
    lowest RSSI first, and on equal RSSI the null frequency first. Both
    duplicates feed the full-array statistics; the kept one feeds the
    dedup'd set, whose frequency the MLE tier reads."""
    requests = duplicate_mac_requests()
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    one = {r["request_id"]: r for r in position_requests_onepass(rdf, ap_df).collect()}
    multi = multipass_for(multipass_answers, requests)
    assert set(one) == set(multi) == {"dup_rssi", "dup_null_freq"}
    for rid, a in one.items():
        b = multi[rid]
        assert sorted(a["methods_used"]) == sorted(b["methods_used"]), rid
        assert a["is_collinear"] == b["is_collinear"], rid
        for c in ("latitude", "longitude", "altitude", "accuracy", "confidence"):
            assert abs(a[c] - b[c]) < 1e-6 * max(1.0, abs(b[c])), (rid, c, a[c], b[c])
    assert {"maximum_likelihood", "trilateration"} & set(one["dup_null_freq"]["methods_used"])


def test_gdop_unit_vectors_from_reference():
    """GDOPCalculatorTest.java ported vectors (GDOPCalculationTests /
    GDOPFactorTests): equilateral triangle from its center is excellent
    (< 2), collinear APs from off-line are poor (> 6), < 3 APs returns the
    MAX_ALLOWED_GDOP cap (30), and calculateGDOPFactor's exact/band
    expectations at gdop = 1.5 / 3 / 5 / 8 / 15. Runs both the reference
    _gdop (LAPACK) and the batched-path _gdop_fast closed form."""
    import numpy as np

    from wifi_location_data_pipeline_spark.positioning.numeric import (
        _gdop,
        _gdop_factor,
        _gdop_fast,
    )

    for g in (_gdop, _gdop_fast):
        tri_x = np.array([0.0, 100.0, 50.0])
        tri_y = np.array([0.0, 0.0, 86.6])
        # shouldHandle2DCoordinatesProperly: center of the triangle
        assert g(tri_x, tri_y, 50.0, 28.87) < 2.0
        # shouldCalculatePoorGDOPForCollinearAPs — the Java case evaluates
        # 10 m off the line in 3D (the unobservable z blows the DOP up);
        # the engine's GDOP is 2D by design (SURVEY §2.7), where the
        # degenerate form is the position ON the line: every unit vector
        # is (+-1, 0), the Gram matrix is singular, and the 30 cap applies
        col_x = np.array([0.0, 50.0, 100.0])
        col_y = np.array([0.0, 0.0, 0.0])
        assert g(col_x, col_y, 50.0, 0.0) == 30.0
        # shouldHandleMinimumRequiredAPs: the Java helper short-circuits
        # < 3 APs to the cap; in the engine that rule lives at the
        # kernel/staged level (n_aps < 3 -> GDOP_MAX -> POOR_GDOP class,
        # pinned by the selection tests) — the singular form the helper
        # itself must cap is the rank-1 Gram (one direction)
        assert g(np.array([0.0]), np.array([0.0]), 50.0, 0.0) == 30.0
        # the two implementations agree to fp noise on regular geometry
    assert abs(
        _gdop(tri_x, tri_y, 50.0, 28.87) - _gdop_fast(tri_x, tri_y, 50.0, 28.87)
    ) < 1e-9

    # GDOPFactorTests
    assert _gdop_factor(1.5) == pytest.approx(1.0)
    assert 1.0 < _gdop_factor(3.0) < 1.5
    assert 1.5 <= _gdop_factor(5.0) <= 2.0
    assert _gdop_factor(8.0) > 2.0
    assert _gdop_factor(15.0) == pytest.approx(4.0)


def test_combiner_vectors_from_reference(spark):
    """WeightedAveragePositionCombinerTest.java ported vectors against the
    production combine_positions: equal-weight collinear trio lands at the
    center with accuracy >= 6 (MIN_COLLINEAR_ACCURACY) and confidence
    <= 0.69 (MAX_COLLINEAR_CONFIDENCE); non-collinear triangle lands at the
    centroid; 3:1 weights pull the answer to the weighted mean; a single
    position passes through unchanged. Positions use the Java fixture's
    (alt 0, accuracy 1, confidence 1) defaults."""
    from wifi_location_data_pipeline_spark.positioning.combiner import (
        combine_positions,
    )

    def pos(rid, algo, w, lat, lon):
        return (rid, algo, float(w), float(lat), float(lon), 0.0, 1.0, 1.0)

    rows = [
        # testCombinePositionsWithCollinearPositions
        pos("col", "a", 1.0, 40.0, -74.0),
        pos("col", "b", 1.0, 40.0, -75.0),
        pos("col", "c", 1.0, 40.0, -76.0),
        # testCombinePositionsWithNonCollinearPositions
        pos("tri", "a", 1.0, 40.0, -74.0),
        pos("tri", "b", 1.0, 41.0, -75.0),
        pos("tri", "c", 1.0, 42.0, -73.0),
        # testCombinePositionsWithWeights
        pos("wtd", "a", 3.0, 40.0, -74.0),
        pos("wtd", "b", 1.0, 42.0, -72.0),
        # single-position pass-through
        pos("one", "a", 1.0, 40.0, -74.0),
    ]
    df = spark.createDataFrame(
        rows,
        "request_id string, algorithm string, weight double, latitude double,"
        " longitude double, altitude double, accuracy double, confidence double",
    )
    out = {r["request_id"]: r for r in combine_positions(df).collect()}

    col = out["col"]
    assert col["latitude"] == pytest.approx(40.0, abs=1e-4)
    assert col["longitude"] == pytest.approx(-75.0, abs=1e-4)
    assert col["is_collinear"]
    assert col["accuracy"] >= 6.0
    assert col["confidence"] <= 0.69

    tri = out["tri"]
    assert tri["latitude"] == pytest.approx(41.0, abs=1e-4)
    assert tri["longitude"] == pytest.approx(-74.0, abs=1e-4)
    assert not tri["is_collinear"]

    wtd = out["wtd"]
    assert wtd["latitude"] == pytest.approx(40.5, abs=1e-4)
    assert wtd["longitude"] == pytest.approx(-73.5, abs=1e-4)

    one = out["one"]
    assert (one["latitude"], one["longitude"]) == (40.0, -74.0)
    assert one["accuracy"] == 1.0 and one["confidence"] == 1.0
    assert not one["is_collinear"]


def test_physics_validator_vectors_from_reference(spark):
    """SignalPhysicsValidatorTest.java ported vectors against the kernel's
    nested-array gate (gate_and_explode): single valid signal passes; -29.9 /
    -100.1 out-of-range reject; the exact [-30, -100] boundary pair passes
    (the special case); same-frequency -40/-95 (55 dB spread with max >
    -50) rejects while -60/-75 passes; the SAME spread split across
    2412/5180 passes (per-frequency grouping); -45/-75/-80 on one channel
    passes at exactly 45 dB while -45/-95 (50 dB) rejects."""
    cases = [
        ("single_valid", [(-65.0, 2412)], True),
        ("too_strong", [(-29.9, 2412)], False),
        ("too_weak", [(-100.1, 2412)], False),
        ("boundary_pair", [(-30.0, 2412), (-100.0, 2412)], True),
        ("impossible_same_freq", [(-40.0, 2412), (-95.0, 2412)], False),
        ("reasonable_variation", [(-60.0, 2412), (-75.0, 2412)], True),
        ("cross_freq_ok", [(-40.0, 2412), (-95.0, 5180)], True),
        ("strong_within_45db", [(-45.0, 2412), (-75.0, 2412), (-80.0, 2412)], True),
        ("strong_50db_reject", [(-45.0, 2412), (-95.0, 2412)], False),
    ]
    requests = [
        req(name, [scan(f"00:11:22:33:44:{i:02x}", s, f)
                   for i, (s, f) in enumerate(scans)])
        for name, scans, _ in cases
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    passed = kernel_gate_pass(rdf)
    for name, _, expect in cases:
        assert (name in passed) == expect, (name, expect)


def test_kernel_gate_null_semantics(spark):
    """The kernel's gate keeps the SQL gate's three-valued semantics: a
    request passes only if its gate is TRUE. A NULL scan array is dropped;
    an empty array passes but yields no rows; a NULL signalStrength, or a
    NULL scan, drops its request (the range test is NULL, or FALSE when
    another scan is out of range); NULL frequency is a group of its own;
    MACs normalize to lower case with ``:``; n_scanned counts every scan,
    one with a NULL mac too."""
    from wifi_location_data_pipeline_spark.positioning.onepass_kernel import gate_and_explode

    def sc(mac, s, f=2437):
        return {"macAddress": mac, "signalStrength": s, "frequency": f,
                "ssid": "t", "linkSpeed": None, "channelWidth": None}

    requests = [
        req("null_array", None),
        req("empty_array", []),
        req("null_rssi", [sc("aa:00:00:00:00:01", -60.0), sc("aa:00:00:00:00:02", None)]),
        req("null_rssi_and_out_of_range", [sc("aa:00:00:00:00:03", None),
                                           sc("aa:00:00:00:00:04", -20.0)]),
        req("null_scan", [sc("aa:00:00:00:00:05", -60.0), None]),
        # -40 and -95 would fail as one group; a NULL frequency splits them
        req("null_freq_group", [sc("aa:00:00:00:00:06", -40.0),
                                sc("aa:00:00:00:00:07", -95.0, None)]),
        req("null_freq_group_spread", [sc("aa:00:00:00:00:08", -40.0, None),
                                       sc("aa:00:00:00:00:09", -95.0, None)]),
        req("macs", [sc("AA-BB-CC-00-00-0A", -60.0), sc("Aa:Bb:cC:00:00:0b", -61.0),
                     sc(None, -62.0)]),
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    rows = gate_and_explode(rdf.toArrow()).to_pandas()
    assert list(rows.columns) == [
        "request_id", "n_scanned", "mac_addr", "signal_strength", "frequency"]
    assert sorted(set(rows["request_id"])) == ["macs", "null_freq_group"]
    macs = rows[rows["request_id"] == "macs"]
    assert macs["mac_addr"].tolist() == ["aa:bb:cc:00:00:0a", "aa:bb:cc:00:00:0b", None]
    assert macs["n_scanned"].tolist() == [3, 3, 3]
    grp = rows[rows["request_id"] == "null_freq_group"]
    assert grp["signal_strength"].tolist() == [-40.0, -95.0]
    assert grp["frequency"].isna().tolist() == [False, True]


def test_wcl_vectors_from_reference(spark):
    """WeightedCentroidAlgorithmTest.java ported vectors against the
    row-wise weighted_centroid twin: two APs at (1,1)/(3,3) scanned at
    -60/-80 dBm must land between them AND be biased toward the WEAKER
    AP2 (> 1.5) — the reference's normalization 10^((s - MAX)/(MIN - MAX))
    gives weaker signals MORE weight, the documented counter-intuitive
    property the Java test pins; a request whose scans all miss the known
    APs produces no row (shouldReturnNullWhenNoMatchingAPs)."""
    from wifi_location_data_pipeline_spark.positioning.algorithms import (
        weighted_centroid,
    )
    from wifi_location_data_pipeline_spark.positioning.prepare import (
        explode_requests,
        join_known_aps,
    )

    ap_rows = [
        {"mac_addr": m, "version": "1", "latitude": la, "longitude": lo,
         "altitude": 5.0, "horizontal_accuracy": ha, "vertical_accuracy": 4.0,
         "confidence": 0.8, "ssid": "t", "frequency": 2412, "vendor": None,
         "status": "active", "geohash": None}
        for m, la, lo, ha in [
            ("0a:00:00:00:00:01", 1.0, 1.0, 10.0),
            ("0a:00:00:00:00:02", 3.0, 3.0, 20.0),
        ]
    ]
    aps = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)
    requests = [
        req("wcl", [scan("0a:00:00:00:00:01", -60.0, 2412),
                    scan("0a:00:00:00:00:02", -80.0, 2412)]),
        req("with_unknown", [scan("0a:00:00:00:00:01", -60.0, 2412),
                             scan("ff:ff:00:00:00:01", -50.0, 2412),
                             scan("0a:00:00:00:00:02", -70.0, 2412)]),
        req("all_unknown", [scan("ff:ff:00:00:00:02", -60.0, 2412),
                            scan("ff:ff:00:00:00:03", -70.0, 2412)]),
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    obs = join_known_aps(explode_requests(rdf), aps)
    out = {r["request_id"]: r for r in weighted_centroid(obs).collect()}

    r = out["wcl"]
    assert 1.0 <= r["latitude"] <= 3.0 and 1.0 <= r["longitude"] <= 3.0
    assert r["latitude"] > 1.5 and r["longitude"] > 1.5  # biased to weak AP2

    u = out["with_unknown"]  # unknown MAC filtered; known pair still answers
    assert 1.0 <= u["latitude"] <= 3.0 and u["latitude"] > 1.5

    assert "all_unknown" not in out  # no matching APs -> no row


def _numeric_group(aps, scans):
    """(lat, lon, alt) AP tuples + (mac_idx, rssi) scans -> numeric-tier group
    dict (the _trilat_arrays/_mle_batch contract; freq 2400 MHz, conf 0.8,
    hacc 5.0 — the Java tests' createAP defaults)."""
    import numpy as np

    sel = [(aps[i], s) for i, s in scans]
    return {
        "rssi": np.array([s for _, s in sel], dtype=float),
        "freq": np.full(len(sel), 2400.0),
        "lat": np.array([a[0] for a, _ in sel], dtype=float),
        "lon": np.array([a[1] for a, _ in sel], dtype=float),
        "alt": np.array([a[2] for a, _ in sel], dtype=float),
        "conf": np.full(len(sel), 0.8),
    }


def test_trilateration_vectors_from_reference():
    """TrilaterationAlgorithmTest.java ported against the numeric-tier twin
    (_trilat_arrays). shouldReturnNullWhenFewerThan3APsAvailable -> None;
    shouldCalculatePositionWith3APsInTriangle -> non-zero position, altitude
    ~10 +/- 5, confidence in (0.5, 0.85]; shouldCalculatePositionWithManyAPs
    (3x3 grid, center strongest) -> confidence > 0.6; shouldHandleCollinearAPs
    -> no crash, positive altitude/confidence when a position is returned."""
    from wifi_location_data_pipeline_spark.positioning.numeric import _trilat_arrays

    tri = [(1.0, 1.0, 10.0), (1.0, 2.0, 10.0), (2.0, 1.5, 10.0)]
    assert _trilat_arrays(_numeric_group(tri, [(0, -65.0), (1, -70.0)])) is None

    r = _trilat_arrays(_numeric_group(tri, [(0, -60.0), (1, -70.0), (2, -65.0)]))
    assert r is not None
    lat, lon, alt, acc, conf = r
    assert lat != 0.0 and lon != 0.0
    assert abs(alt - 10.0) < 5.0
    assert acc > 0
    assert 0.5 < conf <= 0.85

    grid = [(1.0 + i * 0.5, 1.0 + j * 0.5, 10.0) for i in range(3) for j in range(3)]
    strengths = [
        -50.0 if k == 4 else (-80.0 if k % 2 == 0 else -65.0) for k in range(9)
    ]
    rg = _trilat_arrays(_numeric_group(grid, list(enumerate(strengths))))
    assert rg is not None
    assert rg[4] > 0.6  # confidence grows with AP count (ap_factor term)

    coll = [(1.0, 1.0, 10.0), (1.0, 2.0, 10.0), (1.0, 3.0, 10.0)]
    rc = _trilat_arrays(_numeric_group(coll, [(0, -75.0), (1, -60.0), (2, -80.0)]))
    if rc is not None:  # the Java test accepts null OR a degraded position
        assert rc[2] > 0 and rc[4] > 0


def test_mle_vectors_from_reference():
    """MaximumLikelihoodAlgorithmTest.java ported against the lockstep batch
    twin (_mle_batch). The engine's MLE tier requires >= 4 resolved APs (the
    selection matrix's FOUR_PLUS_APS hard constraint — base weight 0 below —
    makes 3-AP MLE unreachable in the pipeline, so the twin returns None
    where the Java class, called directly, still answers).
    shouldImprovePositionEstimateWithLikelihoodIteration: APs on a diagonal
    with the -50 dBm peak at AP2(2,2) -> position within 0.3 deg of (2,2);
    shouldHandlePoorAPGeometry: 3x3 grid, center peak -> within 0.3 of
    (1.5,1.5); confidence always a valid probability."""
    from wifi_location_data_pipeline_spark.positioning.numeric import _mle_batch

    line = [(1.0, 1.0, 10.0), (2.0, 2.0, 10.0), (3.0, 3.0, 10.0), (4.0, 4.0, 10.0)]
    gline = _numeric_group(line, [(0, -75.0), (1, -50.0), (2, -70.0), (3, -80.0)])
    tri3 = _numeric_group(line[:3], [(0, -70.0), (1, -65.0), (2, -60.0)])
    grid = [(1.0 + i * 0.5, 1.0 + j * 0.5, 10.0) for i in range(3) for j in range(3)]
    strengths = [
        -50.0 if k == 4 else (-80.0 if k % 2 == 0 else -65.0) for k in range(9)
    ]
    ggrid = _numeric_group(grid, list(enumerate(strengths)))

    rline, r3, rgrid = _mle_batch([gline, tri3, ggrid])
    assert r3 is None  # < 4 APs: numeric tier unreachable by design

    assert rline is not None
    assert abs(rline[0] - 2.0) < 0.3 and abs(rline[1] - 2.0) < 0.3
    assert 0.0 < rline[4] <= 1.0

    assert rgrid is not None
    assert abs(rgrid[0] - 1.5) < 0.3 and abs(rgrid[1] - 1.5) < 0.3
    assert 0.0 < rgrid[4] <= 1.0


def test_rssi_ratio_vectors_from_reference(spark):
    """RSSIRatioAlgorithmTest.java ported against the row-wise rssi_ratio
    twin. Two APs (1,1)/(1,2) at -65/-70 -> position between them, accuracy
    > 0 (shouldCalculatePositionWithTwoAPs); -50/-80 ->
    shouldHandleSignalStrengthVariations' literal assertion is on LATITUDE
    (both APs sit at lat 1.0, so it pins lat == 1.0; the reference formula
    P = (P1 + r*P2)/(1+r) with r = 10^((s1-s2)/20) actually interpolates
    LONGITUDE toward the WEAKER AP — the same documented counter-intuitive
    weighting the WCL vectors pin — so we additionally pin lon > 1.5, which
    RSSIRatioAlgorithm.java:479-515 produces); -65/-62 strong
    pair -> accuracy in [5,8] m and confidence in [0.7,0.85]
    (shouldReturnExpectedAccuracyAndConfidenceForStrongSignals); -85/-90
    weak pair -> accuracy > 8 and confidence < 0.7; a single matched AP
    yields no row (shouldRequireMinimumAPs)."""
    import pandas as pd

    from wifi_location_data_pipeline_spark.positioning.algorithms import rssi_ratio

    def obs_df(rows):
        pdf = pd.DataFrame(
            rows,
            columns=["request_id", "mac_addr", "signal_strength", "ap_lat", "ap_lon"],
        )
        pdf["ap_alt"] = 0.0
        pdf["ap_haccuracy"] = 5.0
        return spark.createDataFrame(pdf)

    rows = []
    for rid, (s1, s2) in {
        "two": (-65.0, -70.0),
        "strong_pull": (-50.0, -80.0),
        "strong_pair": (-65.0, -62.0),
        "weak_pair": (-85.0, -90.0),
    }.items():
        rows.append([rid, "0a:00:00:00:00:01", s1, 1.0, 1.0])
        rows.append([rid, "0a:00:00:00:00:02", s2, 1.0, 2.0])
    rows.append(["single", "0a:00:00:00:00:01", -65.0, 1.0, 1.0])
    out = {r["request_id"]: r for r in rssi_ratio(obs_df(rows)).collect()}

    assert "single" not in out  # requires >= 2 matched APs

    two = out["two"]
    assert 1.0 <= two["longitude"] <= 2.0 and two["accuracy"] > 0

    pull = out["strong_pull"]
    # the Java assertion verbatim (on latitude — vacuously pins lat == 1.0)
    assert abs(pull["latitude"] - 1.0) < abs(pull["latitude"] - 2.0)
    # the formula's actual longitude behavior: biased toward the WEAK AP2
    assert pull["longitude"] > 1.5

    sp = out["strong_pair"]
    assert 5.0 <= sp["accuracy"] <= 8.0, sp["accuracy"]
    assert 0.7 <= sp["confidence"] <= 0.85, sp["confidence"]
    assert 0.9 <= sp["latitude"] <= 2.1 and 0.9 <= sp["longitude"] <= 2.1

    wp = out["weak_pair"]
    assert wp["accuracy"] > 8.0, wp["accuracy"]
    assert wp["confidence"] < 0.7, wp["confidence"]


def test_proximity_vectors_from_reference(spark):
    """ProximityDetectionAlgorithmTest.java ported against the row-wise
    proximity twin. Strongest-signal pick copies the winning AP's exact
    coordinates/altitude (shouldFindAPWithStrongestSignal); confidence =
    clamp((rssi+90)/60, 0, 0.85) reproduces every range vector: -65 dBm ->
    [0.4, 0.5] with accuracy = the AP's 12 m, -85 dBm -> < 0.2 with 35 m,
    -89 -> (0, 0.2), -35 -> (0.8, 0.85] (the clamp), and -40 > -80
    ordering. Semantics note: the Java CLASS returns null when the
    strongest scan's AP is unknown; the SERVICE drops unknown scans before
    any algorithm runs (WifiPositioningCalculator.filterValidScans), which
    is the pipeline behavior our twin implements — pinned here as
    strongest-KNOWN-AP wins."""
    from wifi_location_data_pipeline_spark.positioning.algorithms import proximity
    from wifi_location_data_pipeline_spark.positioning.prepare import (
        explode_requests,
        join_known_aps,
    )

    ap_rows = [
        {"mac_addr": m, "version": "1", "latitude": la, "longitude": lo,
         "altitude": al, "horizontal_accuracy": ha, "vertical_accuracy": 4.0,
         "confidence": 0.8, "ssid": "t", "frequency": 2412, "vendor": None,
         "status": "active", "geohash": None}
        for m, la, lo, al, ha in [
            ("0a:00:00:00:00:01", 1.0, 1.0, 10.0, 12.0),
            ("0a:00:00:00:00:02", 2.0, 2.0, 20.0, 5.0),
            ("0a:00:00:00:00:03", 3.0, 3.0, 30.0, 35.0),
        ]
    ]
    aps = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)
    requests = [
        req("strongest", [scan("0a:00:00:00:00:01", -70.0),
                          scan("0a:00:00:00:00:02", -60.0),
                          scan("0a:00:00:00:00:03", -80.0)]),
        req("strong_single", [scan("0a:00:00:00:00:01", -65.0)]),
        req("weak_single", [scan("0a:00:00:00:00:03", -85.0)]),
        req("very_weak", [scan("0a:00:00:00:00:01", -89.0)]),
        req("very_strong", [scan("0a:00:00:00:00:01", -35.0)]),
        req("unknown_strongest", [scan("0a:00:00:00:00:01", -70.0),
                                  scan("ff:ff:00:00:00:01", -60.0)]),
        req("all_unknown", [scan("ff:ff:00:00:00:01", -60.0)]),
    ]
    rdf = spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA)
    obs = join_known_aps(explode_requests(rdf), aps)
    out = {r["request_id"]: r for r in proximity(obs).collect()}

    s = out["strongest"]
    assert (s["latitude"], s["longitude"], s["altitude"]) == (2.0, 2.0, 20.0)

    st = out["strong_single"]
    assert 10.0 <= st["accuracy"] <= 15.0 and 0.4 <= st["confidence"] <= 0.5
    assert (st["latitude"], st["longitude"]) == (1.0, 1.0)

    wk = out["weak_single"]
    assert 30.0 <= wk["accuracy"] <= 40.0 and 0.0 < wk["confidence"] < 0.2

    assert 0.0 < out["very_weak"]["confidence"] < 0.2
    assert 0.8 < out["very_strong"]["confidence"] <= 0.85
    assert out["very_strong"]["confidence"] > out["weak_single"]["confidence"]

    # pipeline semantics: unknown scans drop pre-algorithm, strongest KNOWN wins
    u = out["unknown_strongest"]
    assert (u["latitude"], u["longitude"]) == (1.0, 1.0)
    assert "all_unknown" not in out
