"""Closed-form positioning algorithms — pure DataFrame aggregations, no UDFs.

Each function takes prepared observations (one row per request_id × matched AP:
signal_strength, frequency, ap_lat/ap_lon/ap_alt, ap_haccuracy, ap_confidence,
ap_vendor, n_scanned) and returns one row per request:

    (request_id, algorithm, latitude, longitude, altitude, accuracy, confidence)

Reference semantics (file:line cited per function); all four stay inside
WholeStageCodegen — at 100 TB each is a single hash-aggregate shuffle keyed by
request_id, and the RSSI-ratio pairwise expansion is bounded by the ≤20-scan
request limit (≤190 pairs/request).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C


def closed_form_positions(obs: DataFrame) -> DataFrame:
    """Proximity + weighted-centroid + log-distance in ONE hash aggregate.

    The three aggregate-shaped algorithms share the same grouping key, so
    computing them separately costs three shuffles of the full observation
    set where one suffices — at 100 TB that is the difference between one
    and three passes over the fact table. Result rows are unpivoted to the
    standard (request_id, algorithm, ...) shape; selection pruning happens
    downstream on the tiny aggregated output, which is strictly cheaper
    than semi-join-restricting the input three times.
    """
    # --- per-row derived columns -------------------------------------------
    s = F.col("signal_strength")
    # weighted centroid (WeightedCentroidAlgorithm.java:69-455)
    norm = F.greatest(F.lit(0.0), F.least(F.lit(1.0), (s - (-30.0)) / (-100.0 - (-30.0))))
    wcl_w = F.pow(F.lit(10.0), norm)
    # log-distance (LogDistancePathLossAlgorithm.java:155-1086)
    vendor = F.lower(F.trim(F.col("ap_vendor")))
    vendor_n = F.lit(C.DEFAULT_PATH_LOSS_EXPONENT)
    for name, exponent in C.VENDOR_PATH_LOSS_EXPONENTS.items():
        vendor_n = F.when(vendor == name, exponent).otherwise(vendor_n)
    n_adj = (
        F.when(s >= -50.0, vendor_n - F.least(F.lit(1.0), (s + 50.0) / 5.0))
        .when(s <= -80.0, vendor_n + F.least(F.lit(1.5), (-80.0 - s) / 5.0))
        .otherwise(vendor_n)
    )
    n = F.greatest(F.lit(C.PATH_LOSS_EXPONENT_MIN), F.least(F.lit(C.PATH_LOSS_EXPONENT_MAX), n_adj))
    ref = (
        F.when(F.col("frequency") >= 5000, C.REF_RSSI_5GHZ)
        .when(F.col("frequency") >= 2400, C.REF_RSSI_2_4GHZ)
        .otherwise(C.REF_RSSI_6GHZ)
    )
    sigma = F.when(s >= -50.0, C.SHADOW_SIGMA_LOW).when(
        s <= -80.0, C.SHADOW_SIGMA_HIGH
    ).otherwise(C.SHADOW_SIGMA_MEDIUM)
    dist = F.pow(F.lit(10.0), (ref - s) / (10.0 * n)) * (1.0 + sigma / 10.0)
    inv_d = 1.0 / F.greatest(F.lit(1.0), dist)
    # sigmoid signal weight feeds confidence (:1065-1086)
    norm_sig = (s + 100.0) / 70.0
    sig_w = 1.0 / (1.0 + F.exp(-4.0 * (norm_sig - 0.5)))
    conf_term = sig_w * F.greatest(F.lit(0.7), F.coalesce(F.col("ap_confidence"), F.lit(0.85)))
    conf_term = conf_term * F.when(F.col("ap_vendor").isNotNull(), 1.2).otherwise(0.85)
    conf_term = F.greatest(F.lit(0.6), F.least(F.lit(1.0), conf_term))

    prepared = (
        obs.withColumn("_w", wcl_w)
        .withColumn("_d", dist)
        .withColumn("_iw", inv_d)
        .withColumn("_cw", conf_term)
    )

    # --- one shared hash aggregate -----------------------------------------
    agg = prepared.groupBy("request_id").agg(
        # proximity (ProximityDetectionAlgorithm.java:52-130)
        F.max_by(
            F.struct("ap_lat", "ap_lon", "ap_alt", "ap_haccuracy", "signal_strength"),
            F.struct(F.col("signal_strength"), F.col("mac_addr")),
        ).alias("b"),
        # weighted centroid
        (F.sum(F.col("ap_lat") * F.col("_w")) / F.sum("_w")).alias("w_lat"),
        (F.sum(F.col("ap_lon") * F.col("_w")) / F.sum("_w")).alias("w_lon"),
        (
            F.sum(F.when(F.col("ap_alt").isNotNull(), F.col("ap_alt") * F.col("_w")))
            / F.sum(F.when(F.col("ap_alt").isNotNull(), F.col("_w")))
        ).alias("w_alt"),
        F.avg("ap_haccuracy").alias("_avg_acc"),
        F.count("*").alias("_n_matched"),
        F.max("n_scanned").alias("_n_scanned"),
        # log-distance
        (F.sum(F.col("ap_lat") * F.col("_iw")) / F.sum("_iw")).alias("d_lat"),
        (F.sum(F.col("ap_lon") * F.col("_iw")) / F.sum("_iw")).alias("d_lon"),
        (
            F.sum(F.when(F.col("ap_alt").isNotNull(), F.col("ap_alt") * F.col("_iw")))
            / F.sum(F.when(F.col("ap_alt").isNotNull(), F.col("_iw")))
        ).alias("d_alt"),
        F.min("_d").alias("_min_d"),
        F.max("_d").alias("_max_d"),
        F.avg("signal_strength").alias("_avg_s"),
        F.avg("_cw").alias("_avg_cw"),
    )

    # --- per-algorithm output structs --------------------------------------
    prox_conf = F.greatest(
        F.lit(0.0), F.least(F.lit(C.PROXIMITY_CONF_MAX), (F.col("b.signal_strength") + 90.0) / 60.0)
    )
    prox = F.struct(
        F.lit("proximity").alias("algorithm"),
        F.col("b.ap_lat").alias("latitude"),
        F.col("b.ap_lon").alias("longitude"),
        F.coalesce(F.col("b.ap_alt"), F.lit(0.0)).alias("altitude"),
        F.coalesce(F.col("b.ap_haccuracy"), F.lit(C.PROXIMITY_DEFAULT_ACCURACY_M)).alias("accuracy"),
        prox_conf.alias("confidence"),
    )

    coverage = F.col("_n_matched") / F.greatest(F.col("_n_scanned"), F.lit(1))
    wcl = F.struct(
        F.lit("weighted_centroid").alias("algorithm"),
        F.col("w_lat").alias("latitude"),
        F.col("w_lon").alias("longitude"),
        F.coalesce(F.col("w_alt"), F.lit(0.0)).alias("altitude"),
        F.coalesce(F.col("_avg_acc"), F.lit(C.WCL_DEFAULT_AP_ACCURACY_M)).alias("accuracy"),
        F.least(F.lit(C.WCL_CONF_CAP), coverage * F.lit(C.WCL_CONF_COVERAGE_COEF)).alias(
            "confidence"
        ),
    )

    # accuracy: strong → 0.5×min_d; weak → 3×max_d; medium → interpolated
    # multiplier applied to the distance midpoint (:730-757)
    sr = (F.col("_avg_s") - (-80.0)) / ((-50.0) - (-80.0))
    mid_mult = 3.0 - sr * 2.5
    ld_accuracy = (
        F.when(F.col("_avg_s") >= -50.0, F.col("_min_d") * 0.5)
        .when(F.col("_avg_s") <= -80.0, F.col("_max_d") * 3.0)
        .otherwise((F.col("_min_d") + F.col("_max_d")) / 2.0 * mid_mult)
    )
    ld = F.struct(
        F.lit("log_distance").alias("algorithm"),
        F.col("d_lat").alias("latitude"),
        F.col("d_lon").alias("longitude"),
        F.coalesce(F.col("d_alt"), F.lit(0.0)).alias("altitude"),
        ld_accuracy.alias("accuracy"),
        F.least(F.lit(0.85), F.col("_avg_cw")).alias("confidence"),
    )

    return agg.select("request_id", F.explode(F.array(prox, wcl, ld)).alias("p")).select(
        "request_id", "p.*"
    )


def proximity(obs: DataFrame) -> DataFrame:
    """Strongest-signal pick (ProximityDetectionAlgorithm.java:52-130).

    position = argmax-RSSI AP; confidence = clamp((rssi+90)/60, 0, 0.85);
    accuracy = that AP's horizontal accuracy. Thin filter over the shared
    one-pass aggregate (closed_form_positions) — one source of truth.
    """
    return closed_form_positions(obs).filter(F.col("algorithm") == "proximity")


def weighted_centroid(obs: DataFrame) -> DataFrame:
    """Exponential signal-weighted centroid (WeightedCentroidAlgorithm.java:69-455).

    normalized = clamp((rssi − (−30)) / (−100 − (−30)), 0, 1); w = 10^normalized;
    P = Σ(Pᵢwᵢ)/Σwᵢ; confidence = min(0.8, coverage × 0.7);
    accuracy = avg AP horizontal accuracy (default 15 m).
    """
    return closed_form_positions(obs).filter(F.col("algorithm") == "weighted_centroid")


def rssi_ratio(obs: DataFrame) -> DataFrame:
    """Pairwise signal-ratio interpolation (RSSIRatioAlgorithm.java:73-722).

    For each AP pair: ratio = 10^((RSSI₁−RSSI₂)/20), weight = |ΔRSSI|/30,
    P = (P₁ + ratio·P₂)/(1 + ratio); aggregate weighted by pair weight.
    Accuracy = avg AP accuracy × clamp((−avgRSSI−50)/10, 1, 3).
    Confidence = min(0.85, Σw / C(n,2) + avg signal quality), floor 0.7 when
    avg RSSI ≥ −70 dBm. Requires ≥2 matched APs.
    """
    left = obs.select(
        "request_id",
        F.col("mac_addr").alias("m1"),
        F.col("signal_strength").alias("s1"),
        F.col("ap_lat").alias("lat1"),
        F.col("ap_lon").alias("lon1"),
        F.col("ap_alt").alias("alt1"),
    )
    right = obs.select(
        "request_id",
        F.col("mac_addr").alias("m2"),
        F.col("signal_strength").alias("s2"),
        F.col("ap_lat").alias("lat2"),
        F.col("ap_lon").alias("lon2"),
        F.col("ap_alt").alias("alt2"),
    )
    pairs = left.join(right, "request_id").filter(F.col("m1") < F.col("m2"))
    ratio = F.pow(F.lit(10.0), (F.col("s1") - F.col("s2")) / C.RSSI_RATIO_EXPONENT_DIVISOR)
    pw = F.abs(F.col("s1") - F.col("s2")) / 30.0  # WEIGHT_NORMALIZATION_FACTOR
    interp = lambda c1, c2: (F.col(c1) + ratio * F.col(c2)) / (1.0 + ratio)  # noqa: E731
    pair_pos = pairs.select(
        "request_id",
        interp("lat1", "lat2").alias("plat"),
        interp("lon1", "lon2").alias("plon"),
        F.when(
            F.col("alt1").isNotNull() & F.col("alt2").isNotNull(), interp("alt1", "alt2")
        ).alias("palt"),
        pw.alias("pw"),
    )
    # try_divide + the _total_w > 0 filter: a request whose distinct-mac
    # pairs ALL carry equal signals has zero total pair weight — the
    # algorithm yields nothing there (same gate as the onepass kernel's
    # rr_valid), rather than an ANSI division error
    agg = pair_pos.groupBy("request_id").agg(
        F.try_divide(F.sum(F.col("plat") * F.col("pw")), F.sum("pw")).alias("latitude"),
        F.try_divide(F.sum(F.col("plon") * F.col("pw")), F.sum("pw")).alias("longitude"),
        F.try_divide(
            F.sum(F.when(F.col("palt").isNotNull(), F.col("palt") * F.col("pw"))),
            F.sum(F.when(F.col("palt").isNotNull(), F.col("pw"))),
        ).alias("altitude"),
        F.sum("pw").alias("_total_w"),
    ).filter(F.col("_total_w") > 0.0)
    stats = obs.groupBy("request_id").agg(
        F.avg("signal_strength").alias("_avg_s"),
        F.avg(
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), (F.col("signal_strength") + 95.0) / 45.0))
        ).alias("_sq"),
        F.avg("ap_haccuracy").alias("_avg_acc"),
        F.count("*").alias("_n"),
    ).filter(F.col("_n") >= 2)
    joined = agg.join(stats, "request_id")
    signal_factor = F.greatest(F.lit(1.0), F.least(F.lit(3.0), (-F.col("_avg_s") - 50.0) / 10.0))
    max_pairs = F.col("_n") * (F.col("_n") - 1) / 2.0
    base_conf = F.least(F.lit(0.85), F.col("_total_w") / max_pairs)
    conf = F.least(F.lit(0.85), base_conf + F.col("_sq"))
    conf = F.when(F.col("_avg_s") >= -70.0, F.greatest(F.lit(0.7), conf)).otherwise(conf)
    return joined.select(
        "request_id",
        F.lit("rssi_ratio").alias("algorithm"),
        "latitude",
        "longitude",
        F.coalesce(F.col("altitude"), F.lit(0.0)).alias("altitude"),
        (F.coalesce(F.col("_avg_acc"), F.lit(15.0)) * signal_factor).alias("accuracy"),
        conf.alias("confidence"),
    )


def log_distance(obs: DataFrame) -> DataFrame:
    """Log-distance path-loss positioning (LogDistancePathLossAlgorithm.java:155-1086).

    Per AP: n = vendor exponent (cisco 3.0, aruba 2.8, meraki 3.0, ubiquiti 2.7,
    ruckus 2.9, hpe-aruba 2.8; default 3.0 ITU-R) adjusted by signal strength
    (strong ≥ −50: −min(1,(s+50)/5); weak ≤ −80: +min(1.5,(−80−s)/5)), clamped
    [2, 5]; RSSI_ref by band (−40 / −45 / −43 dBm);
    d = 10^((RSSI_ref − s)/(10n)) × (1 + σ/10) with shadow-fading σ 2.0/3.5/5.0.
    Position = inverse-distance-weighted centroid (w = 1/max(1, d)).
    """
    return closed_form_positions(obs).filter(F.col("algorithm") == "log_distance")
