"""Maturity-tiered batch AP localization (SURVEY.md §2.9/§3.3).

Implements the FRAMEWORK doc's algorithm-selection matrix (Table 2, doc
:121-169) — the layer that is *stubbed* in the reference code
(wifi-data-pipeline-computation/.../algorithm/impl/*.java return null):

- Tier 1 (20 ≤ N < 50):  Weighted Centroid with w = quality_w · 10^(RSSI/10)
- Tier 2 (50 ≤ N < 100): Maximum Likelihood on the log-distance model,
  tier-specific parameters: CONNECTED rows get a precise path-loss exponent
  (from frequency) and low σ; SCAN rows a generic n and high σ
- Tier 3 (N ≥ 100):      Bayesian/MLE with prior — the prior state (x̂, P)
  fuses via the Kalman update in ``kalman_update`` (doc :172-213)

Spark shape (§3.3): the reference's SQS-message-per-MAC orchestration
disappears — ONE job localizes every sufficient BSSID. The tier is attached
by one broadcast join; the WCL tier is a pure SQL aggregate; the MLE and
BAYESIAN tiers pack each AP's rows into one array row and share ONE
mapInPandas pass (the Python hop sees only their rows). Skew note: a
mega-popular BSSID is capped by per-group sampling (``max_rows_per_ap``)
before the Python tier, mirroring the reference's per-query LIMIT
(APMeasurementsLookUpService :140-157).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import METERS_PER_DEG
from wifi_location_data_pipeline_spark.positioning.numeric import mle_ascent

AP_LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("bssid", T.StringType()),
        T.StructField("algorithm", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("horizontal_accuracy", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("measurement_count", T.LongType()),
    ]
)


def tier_routing(measurements: DataFrame, cfg: C.EngineConfig = C.DEFAULT_CONFIG) -> DataFrame:
    """(bssid, n, tier) for clean measurements; below-bootstrap APs excluded."""
    counts = (
        measurements.filter(~F.coalesce(F.col("is_global_outlier"), F.lit(False)))
        .groupBy("bssid")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= cfg.localization_min_measurements)
    )
    return counts.withColumn(
        "tier",
        F.when(F.col("n") < C.LOCALIZATION_TIER_MLE, "WCL")
        .when(F.col("n") < C.LOCALIZATION_TIER_BAYESIAN, "MLE")
        .otherwise("BAYESIAN"),
    )


def wcl_localize(measurements: DataFrame) -> DataFrame:
    """Tier-1 weighted centroid: w = quality_w · 10^(RSSI/10) (doc :133-139)."""
    w = F.col("quality_weight") * F.pow(10.0, F.col("rssi").cast("double") / 10.0)
    agg = measurements.withColumn("_w", w).groupBy("bssid").agg(
        (F.sum(F.col("latitude") * F.col("_w")) / F.sum("_w")).alias("latitude"),
        (F.sum(F.col("longitude") * F.col("_w")) / F.sum("_w")).alias("longitude"),
        (
            F.sum(F.when(F.col("altitude").isNotNull(), F.col("altitude") * F.col("_w")))
            / F.sum(F.when(F.col("altitude").isNotNull(), F.col("_w")))
        ).alias("altitude"),
        F.count("*").alias("measurement_count"),
        F.stddev_samp("latitude").alias("_slat"),
        F.stddev_samp("longitude").alias("_slon"),
    )
    # accuracy from the cloud's spatial spread; confidence grows with N
    spread_m = F.sqrt(
        F.pow(F.coalesce(F.col("_slat"), F.lit(0.0)) * METERS_PER_DEG, 2)
        + F.pow(
            F.coalesce(F.col("_slon"), F.lit(0.0)) * METERS_PER_DEG
            * F.cos(F.radians("latitude")),
            2,
        )
    )
    return agg.select(
        "bssid",
        F.lit("WCL").alias("algorithm"),
        "latitude",
        "longitude",
        "altitude",
        F.greatest(F.lit(5.0), spread_m / F.sqrt(F.col("measurement_count"))).alias(
            "horizontal_accuracy"
        ),
        F.least(F.lit(0.8), 0.3 + 0.01 * F.col("measurement_count")).alias("confidence"),
        F.col("measurement_count").cast("long").alias("measurement_count"),
    )


def _mle_localize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped MLE on the log-distance model with tier-specific n/σ per row.

    CONNECTED rows: frequency-derived n (2.8 for 5 GHz, 3.0 for 2.4 GHz) and
    σ = 2.5 dB; SCAN rows: generic n = 3.0, σ = 6.0 dB (doc :147-160).
    """
    bssid = pdf["bssid"].iloc[0]
    lat = pdf["latitude"].to_numpy(float)
    lon = pdf["longitude"].to_numpy(float)
    rssi = pdf["rssi"].to_numpy(float)
    qw = pdf["quality_weight"].fillna(1.0).to_numpy(float)
    connected = (pdf["connection_status"] == "CONNECTED").to_numpy()
    freq = pdf["frequency"].fillna(2437).to_numpy(float)

    n_exp = np.where(connected, np.where(freq >= 5000, 2.8, 3.0), 3.0)
    sigma = np.where(connected, 2.5, 6.0)
    ref = np.where(freq >= 5000, -45.0, -40.0)

    lat0, lon0 = float(np.mean(lat)), float(np.mean(lon))
    coslat = math.cos(math.radians(lat0))
    x = (lon - lon0) * METERS_PER_DEG * coslat
    y = (lat - lat0) * METERS_PER_DEG

    # init at the tier-1 WCL estimate
    w0 = qw * np.power(10.0, rssi / 10.0)
    px, py = float(np.sum(x * w0) / np.sum(w0)), float(np.sum(y * w0) / np.sum(w0))

    def ll(px_, py_):
        d = np.maximum(np.hypot(x - px_, y - py_), 1.0)
        err = rssi - (ref - 10.0 * n_exp * np.log10(d))
        return float(np.sum(-(err**2) / (2.0 * sigma**2) * qw))

    def grad(px_, py_):
        d = np.maximum(np.hypot(x - px_, y - py_), 1.0)
        err = rssi - (ref - 10.0 * n_exp * np.log10(d))
        k = err / (sigma**2) * qw * (10.0 * n_exp / math.log(10.0)) / (d**2)
        return float(np.sum(k * (x - px_))), float(np.sum(k * (y - py_)))

    best, best_ll, cur, lr = (px, py), ll(px, py), (px, py), 1.0
    for _ in range(C.MLE_MAX_ITERATIONS):
        gx, gy = grad(*cur)
        gn = math.hypot(gx, gy)
        if gn < 1e-12:
            break
        step = (cur[0] + lr * gx / gn, cur[1] + lr * gy / gn)
        v = ll(*step)
        if v > best_ll:
            best_ll, best, cur = v, step, step
            lr *= 1.2
        else:
            lr *= 0.5
        if lr < C.MLE_CONVERGENCE_M:
            break

    px, py = best
    d = np.maximum(np.hypot(x - px, y - py), 1.0)
    err = rssi - (ref - 10.0 * n_exp * np.log10(d))
    resid = float(np.sqrt(np.mean(err**2)))
    n = len(pdf)
    accuracy = max(3.0, resid * 2.0)
    confidence = min(0.95, 0.5 + 0.002 * n + (0.2 if connected.mean() > 0.3 else 0.0))

    alts = pdf["altitude"].dropna()
    return pd.DataFrame(
        [[
            bssid,
            "MLE",
            lat0 + py / METERS_PER_DEG,
            lon0 + px / (METERS_PER_DEG * coslat),
            float(alts.mean()) if len(alts) else None,
            accuracy,
            confidence,
            n,
        ]],
        columns=[f.name for f in AP_LOCATION_SCHEMA.fields],
    )


def _mle_localize_batch(groups: list[dict]) -> list[list]:
    """Lockstep-vectorized twin of ``_mle_localize_group`` across many APs.

    The ~100 gradient iterations per AP dominate when run sequentially per
    group, so the APs become padded (R×K) tensors (per-row n, σ and
    reference RSSI; padding weight 0) and run the ascent positioning's
    ``_mle_batch`` runs too, ``positioning.numeric.mle_ascent``; element-wise
    ops keep per-AP math identical to the sequential reference.

    Bayesian tier (doc :163-169): a group may carry ``prior`` =
    (lat, lon, p_var_m2) — the AP's persisted state (x̂, P). The objective
    becomes the log-posterior: log-likelihood plus the Gaussian log-prior
    −(‖pos − x̂‖²)/(2P) in the local meter frame, i.e. MAP estimation. With
    no prior the extra term is zero and the math is exactly the MLE tier.
    """
    R = len(groups)
    K = max(len(g["rssi"]) for g in groups)
    rssi = np.zeros((R, K))
    qw = np.zeros((R, K))  # padding weight 0 → zero ll/grad contribution
    n_exp = np.full((R, K), 3.0)
    sigma = np.ones((R, K))
    ref = np.zeros((R, K))
    ax = np.zeros((R, K))
    ay = np.zeros((R, K))
    valid = np.zeros((R, K), dtype=bool)
    lat0 = np.zeros(R)
    lon0 = np.zeros(R)
    coslat = np.ones(R)
    ppx = np.zeros(R)  # prior mean in the local meter frame
    ppy = np.zeros(R)
    ipv = np.zeros(R)  # 1/P (prior precision); 0 = no prior = plain MLE

    for r, g in enumerate(groups):
        k = len(g["rssi"])
        rssi[r, :k] = g["rssi"]
        qw[r, :k] = np.where(np.isnan(g["qw"]), 1.0, g["qw"])
        connected = g["connected"]
        freq = np.where(np.isnan(g["freq"]), 2437.0, g["freq"])
        n_exp[r, :k] = np.where(connected, np.where(freq >= 5000, 2.8, 3.0), 3.0)
        sigma[r, :k] = np.where(connected, 2.5, 6.0)
        ref[r, :k] = np.where(freq >= 5000, -45.0, -40.0)
        la, lo = g["lat"], g["lon"]
        lat0[r], lon0[r] = float(np.mean(la)), float(np.mean(lo))
        coslat[r] = math.cos(math.radians(lat0[r]))
        ax[r, :k] = (lo - lon0[r]) * METERS_PER_DEG * coslat[r]
        ay[r, :k] = (la - lat0[r]) * METERS_PER_DEG
        valid[r, :k] = True
        prior = g.get("prior")
        if prior is not None:
            p_lat, p_lon, p_var = prior
            ppx[r] = (p_lon - lon0[r]) * METERS_PER_DEG * coslat[r]
            ppy[r] = (p_lat - lat0[r]) * METERS_PER_DEG
            ipv[r] = 1.0 / max(float(p_var), 1.0)

    w0 = np.where(valid, qw * np.power(10.0, rssi / 10.0), 0.0)
    sw0 = np.maximum(w0.sum(axis=1), 1e-300)
    px = (ax * w0).sum(axis=1) / sw0
    py = (ay * w0).sum(axis=1) / sw0
    best_x, best_y = mle_ascent(
        ax, ay, rssi, ref, n_exp, sigma**2, qw * valid, px, py, (ppx, ppy, ipv)
    )

    out = []
    for r, g in enumerate(groups):
        k = len(g["rssi"])
        d = np.maximum(np.hypot(ax[r, :k] - best_x[r], ay[r, :k] - best_y[r]), 1.0)
        err = rssi[r, :k] - (ref[r, :k] - 10.0 * n_exp[r, :k] * np.log10(d))
        resid = float(np.sqrt(np.mean(err**2)))
        n = k
        connected_mean = float(np.mean(g["connected"]))
        alts = g["alt"][~np.isnan(g["alt"])]
        # posterior accuracy: 1/P_post = 1/P_prior + 1/R_batch (doc :195-206);
        # prior-less groups have ipv=0, reducing to the plain MLE accuracy
        r_std = max(3.0, resid * 2.0)
        post_var = 1.0 / (ipv[r] + 1.0 / (r_std * r_std))
        conf = min(0.95, 0.5 + 0.002 * n + (0.2 if connected_mean > 0.3 else 0.0))
        if ipv[r] > 0.0:
            conf = min(0.97, conf + 0.05)  # tighter posterior (doc :159)
        out.append(
            [
                "BAYESIAN" if ipv[r] > 0.0 else "MLE",
                lat0[r] + float(best_y[r]) / METERS_PER_DEG,
                lon0[r] + float(best_x[r]) / (METERS_PER_DEG * coslat[r]),
                float(alts.mean()) if len(alts) else None,
                max(3.0, math.sqrt(post_var)),
                conf,
                n,
            ]
        )
    return out


_MLE_PACK_COLS = (
    "latitude", "longitude", "altitude", "rssi",
    "quality_weight", "connection_status", "frequency",
)


def _run_mle_packed(batches):
    for pdf in batches:
        bssids, groups = [], []
        has_prior = "prior_lat" in pdf.columns
        for i, (bssid, obs) in enumerate(zip(pdf["bssid"], pdf["obs"])):
            to = lambda key: np.array([o[key] for o in obs], dtype=float)  # noqa: E731
            bssids.append(bssid)
            g = {
                "lat": to("latitude"),
                "lon": to("longitude"),
                "alt": to("altitude"),
                "rssi": to("rssi"),
                "qw": to("quality_weight"),
                "connected": np.array(
                    [o["connection_status"] == "CONNECTED" for o in obs]
                ),
                "freq": to("frequency"),
            }
            if has_prior and pd.notna(pdf["prior_lat"].iloc[i]):
                g["prior"] = (
                    float(pdf["prior_lat"].iloc[i]),
                    float(pdf["prior_lon"].iloc[i]),
                    float(pdf["prior_var"].iloc[i]),
                )
            groups.append(g)
        rows = (
            [[b, *r] for b, r in zip(bssids, _mle_localize_batch(groups))]
            if groups
            else []
        )
        yield pd.DataFrame(rows, columns=[f.name for f in AP_LOCATION_SCHEMA.fields])


def _capped(measurements: DataFrame, max_rows_per_ap: int) -> DataFrame:
    """Per-AP skew cap keeping strongest-RSSI rows (most informative),
    mirroring the reference's ORDER BY … LIMIT lookback."""
    w = Window.partitionBy("bssid").orderBy(F.col("rssi").desc(), F.col("event_id"))
    return (
        measurements.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_rows_per_ap)
        .drop("_rn")
    )


def _localize_numeric(
    rows: DataFrame, prior_state: DataFrame | None = None, max_rows_per_ap: int = 2000
) -> DataFrame:
    """The MLE and BAYESIAN tiers in ONE mapInPandas pass.

    ``rows`` carries a ``tier`` column. Each AP's capped rows are packed
    into one array row (the lockstep kernel's input); only BAYESIAN-tier APs
    take their prior (x̂, P) from ``prior_state``, so an MLE-tier AP is never
    fused and keeps its 'MLE' label. A missing prior degrades to plain MLE
    per AP. The kernel runs once per Arrow batch of APs, not once per AP."""
    packed = (
        _capped(rows, max_rows_per_ap)
        .groupBy("bssid", "tier")
        .agg(F.collect_list(F.struct(*_MLE_PACK_COLS)).alias("obs"))
    )
    if prior_state is not None:
        # the kernel's prior-column convention
        prior = prior_state.select(
            "bssid",
            F.lit("BAYESIAN").alias("tier"),
            F.col("latitude").alias("prior_lat"),
            F.col("longitude").alias("prior_lon"),
            F.col("p_var_m2").alias("prior_var"),
        )
        packed = packed.join(F.broadcast(prior), ["bssid", "tier"], "left")
    spark = packed.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism // 2)
    return packed.drop("tier").repartition(n_parts).mapInPandas(
        _run_mle_packed, AP_LOCATION_SCHEMA
    )


def mle_localize(measurements: DataFrame, max_rows_per_ap: int = 2000) -> DataFrame:
    """Tier-2 MLE over every AP in ``measurements`` (see ``_localize_numeric``)."""
    return _localize_numeric(
        measurements.withColumn("tier", F.lit("MLE")), max_rows_per_ap=max_rows_per_ap
    )


def mle_localize_grouped(measurements: DataFrame, max_rows_per_ap: int = 2000) -> DataFrame:
    """Reference shape: one applyInPandas call per AP (parity baseline for
    the packed-batch path)."""
    cols = ["bssid", *_MLE_PACK_COLS]
    return _capped(measurements, max_rows_per_ap).select(*cols).groupBy("bssid").applyInPandas(
        _mle_localize_group, AP_LOCATION_SCHEMA
    )


def bayesian_localize(
    measurements: DataFrame, prior_state: DataFrame, max_rows_per_ap: int = 2000
) -> DataFrame:
    """Tier-3 Bayesian inference (doc :163-169): MAP gradient ascent fusing
    the per-AP prior state (x̂, P) with the batch log-likelihood — the same
    lockstep-batched kernel as the MLE tier with the Gaussian log-prior term
    switched on. APs with no prior row degrade gracefully to plain MLE
    (label stays honest: 'MLE').

    prior_state: (bssid, latitude, longitude, p_var_m2) — the kalman_update
    state convention."""
    return _localize_numeric(
        measurements.withColumn("tier", F.lit("BAYESIAN")), prior_state, max_rows_per_ap
    )


def wcl_prior_state(history: DataFrame) -> DataFrame:
    """Prior state (x̂, P) from historical measurements: the WCL estimate with
    a spread-derived scalar variance — the bootstrap form of the persisted
    Kalman state when no previous batch exists (doc :184-191)."""
    est = wcl_localize(history)
    return est.select(
        "bssid",
        "latitude",
        "longitude",
        F.pow(F.col("horizontal_accuracy"), 2).alias("p_var_m2"),
    )


def _attach_tiers(measurements: DataFrame, cfg: C.EngineConfig) -> DataFrame:
    """Clean rows of every sufficient BSSID with its ``tier``, by ONE
    broadcast join: the inner join drops below-bootstrap bssids (routing
    excludes them), and callers that pre-partition ``measurements`` by bssid
    (the registry's batch entry does) keep every per-AP window/groupBy
    downstream exchange-free."""
    clean = measurements.filter(~F.coalesce(F.col("is_global_outlier"), F.lit(False)))
    routing = tier_routing(measurements, cfg).select("bssid", "tier")
    return clean.join(F.broadcast(routing), "bssid", "inner")


def localize_all(
    measurements: DataFrame,
    cfg: C.EngineConfig = C.DEFAULT_CONFIG,
    prior_state: DataFrame | None = None,
) -> DataFrame:
    """Route every sufficient BSSID to its maturity tier and localize.

    With ``prior_state`` (the persisted AP state), tier-3 BAYESIAN APs run
    MAP estimation against their prior (doc :163-169). Without it they run
    the prior-less MLE estimator and the posterior fusion is deferred to
    ``kalman_update`` against the existing AP state (doc :184-213). The MLE
    and BAYESIAN tiers share one Python pass.
    """
    tiered = _attach_tiers(measurements, cfg)
    wcl_out = wcl_localize(tiered.filter(F.col("tier") == "WCL").drop("tier"))
    numeric = _localize_numeric(tiered.filter(F.col("tier") != "WCL"), prior_state)
    return wcl_out.unionByName(numeric)


def localize_with_history(
    measurements: DataFrame, cfg: C.EngineConfig = C.DEFAULT_CONFIG
) -> DataFrame:
    """The doc :196-206 feedback loop in one batch job: tier-3 APs take their
    prior from the chronologically older half of their rows (the 'persisted
    state' analog) and fuse it with the newer half's likelihood; WCL/MLE
    tiers are unchanged. Tier routing stays on TOTAL N — maturity counts all
    data ever collected, not the slice used for the likelihood.

    Requires ``measurement_timestamp`` and ``id`` columns (the
    wifi_measurements layout) for the deterministic history split.
    """
    tiered = _attach_tiers(measurements, cfg)
    wcl_out = wcl_localize(tiered.filter(F.col("tier") == "WCL").drop("tier"))

    ap = Window.partitionBy("bssid")
    newer = F.row_number().over(ap.orderBy("measurement_timestamp", "id")) > F.count("*").over(ap) / 2
    split = tiered.filter(F.col("tier") != "WCL").withColumn("_newer", newer)
    bayesian = F.col("tier") == "BAYESIAN"
    hist = split.filter(bayesian & ~F.col("_newer")).drop("tier", "_newer")
    # MLE-tier APs keep all their rows; BAYESIAN ones the newer half
    rows = split.filter(~bayesian | F.col("_newer")).drop("_newer")
    return wcl_out.unionByName(_localize_numeric(rows, wcl_prior_state(hist)))


def kalman_update(prior_state: DataFrame, new_estimates: DataFrame) -> DataFrame:
    """Scalar-diagonal Kalman fusion of AP state with a new batch estimate
    (doc :184-213): x̂ₖ = x̂ₖ₋₁ + K(zₖ − x̂ₖ₋₁), K = P/(P+R), Pₖ = (1−K)P.

    State is carried as a per-axis variance (meters²) derived from accuracy;
    a large innovation vs. the predicted position flags relocation (doc
    :207-213) → state reset to the new estimate with inflated covariance.

    prior_state:  (bssid, latitude, longitude, p_var_m2)
    new_estimates: (bssid, latitude, longitude, horizontal_accuracy, …)
    Returns the fused state (bssid, latitude, longitude, p_var_m2, relocated).
    """
    z = new_estimates.select(
        "bssid",
        F.col("latitude").alias("z_lat"),
        F.col("longitude").alias("z_lon"),
        F.pow(F.col("horizontal_accuracy"), 2).alias("r_var"),
    )
    joined = prior_state.join(z, "bssid", "full")

    innovation_m = F.sqrt(
        F.pow((F.col("z_lat") - F.col("latitude")) * METERS_PER_DEG, 2)
        + F.pow(
            (F.col("z_lon") - F.col("longitude")) * METERS_PER_DEG
            * F.cos(F.radians("latitude")),
            2,
        )
    )
    relocated = innovation_m > 3.0 * F.sqrt(F.col("p_var_m2") + F.col("r_var"))
    gain = F.col("p_var_m2") / (F.col("p_var_m2") + F.col("r_var"))

    fused_lat = F.col("latitude") + gain * (F.col("z_lat") - F.col("latitude"))
    fused_lon = F.col("longitude") + gain * (F.col("z_lon") - F.col("longitude"))
    fused_var = (1.0 - gain) * F.col("p_var_m2")

    return joined.select(
        "bssid",
        F.when(F.col("latitude").isNull(), F.col("z_lat"))       # new AP
        .when(F.col("z_lat").isNull(), F.col("latitude"))        # no new data
        .when(relocated, F.col("z_lat"))                          # reset on move
        .otherwise(fused_lat)
        .alias("latitude"),
        F.when(F.col("longitude").isNull(), F.col("z_lon"))
        .when(F.col("z_lon").isNull(), F.col("longitude"))
        .when(relocated, F.col("z_lon"))
        .otherwise(fused_lon)
        .alias("longitude"),
        F.when(F.col("p_var_m2").isNull(), F.col("r_var"))
        .when(F.col("r_var").isNull(), F.col("p_var_m2"))
        .when(relocated, F.col("r_var") * 4.0)                    # inflated restart
        .otherwise(fused_var)
        .alias("p_var_m2"),
        F.coalesce(relocated, F.lit(False)).alias("relocated"),
    )
