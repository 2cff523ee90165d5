"""Per-request selection-context classification — all closed-form SQL aggregates.

Computes the four factors of SelectionContext
(wifi-positioning-service/.../selection/SelectionContextBuilder.java:28-47):

- AP count class        (factor/APCountFactor.java:23-33)
- signal quality        (factor/SignalQualityFactor.java:60-93)
- signal distribution   (factor/SignalDistributionFactor.java:26,32,108-131)
- geometric quality     (factor/GeometricQualityFactor.java:80-148 + util/GDOPCalculator.java)

Spark-first: GDOP for the 2D case is closed-form over aggregates — the
geometry matrix HᵀH is a 2×2 of sums of unit-vector products, its inverse is
analytic, and GDOP = √trace((HᵀH)⁻¹). Collinearity is the reference's
line-of-best-fit max-deviation test, also pure aggregates + one join-back.
No UDF anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import METERS_PER_DEG


def signal_context(observations: DataFrame) -> DataFrame:
    """AP-count / signal-quality / signal-distribution classes per request."""
    agg = observations.groupBy("request_id").agg(
        F.countDistinct("mac_addr").alias("ap_count"),
        F.avg("signal_strength").alias("avg_rssi"),
        F.coalesce(F.stddev_samp("signal_strength"), F.lit(0.0)).alias("rssi_stddev"),
        F.max("signal_strength").alias("max_rssi"),
    )
    return agg.select(
        "request_id",
        "ap_count",
        "avg_rssi",
        "max_rssi",
        F.when(F.col("ap_count") == 1, "SINGLE_AP")
        .when(F.col("ap_count") == 2, "TWO_APS")
        .when(F.col("ap_count") == 3, "THREE_APS")
        .otherwise("FOUR_PLUS_APS")
        .alias("ap_count_class"),
        F.when(F.col("avg_rssi") > C.SIGNAL_STRONG_DBM, "STRONG_SIGNAL")
        .when(F.col("avg_rssi") > C.SIGNAL_MEDIUM_DBM, "MEDIUM_SIGNAL")
        .when(F.col("avg_rssi") > C.SIGNAL_WEAK_DBM, "WEAK_SIGNAL")
        .otherwise("VERY_WEAK_SIGNAL")
        .alias("signal_quality"),
        F.when(F.col("rssi_stddev") > C.DISTRIBUTION_OUTLIER_STDDEV, "SIGNAL_OUTLIERS")
        .when(F.col("rssi_stddev") > C.DISTRIBUTION_MIXED_STDDEV, "MIXED_SIGNALS")
        .otherwise("UNIFORM_SIGNALS")
        .alias("signal_distribution"),
        (F.col("max_rssi") < C.ALL_WEAK_RSSI_GATE).alias("all_very_weak"),
    )


def geometric_context(observations: DataFrame) -> DataFrame:
    """Collinearity + GDOP class per request, from AP coordinates.

    Collinearity (GeometricQualityFactor.isCollinear :158-205): fit
    lat = slope·lon + intercept via covariances; collinear iff max |residual|
    ≤ 0.0002° (or a degenerate horizontal/vertical line). Requires ≥3 APs.

    GDOP (GDOPCalculator.calculateGDOP): unit vectors from the weighted
    centroid estimate to each AP; GDOP = √trace((HᵀH)⁻¹), capped at 30.
    """
    # per-AP rows (deduped) with a WCL-style position estimate for unit vectors
    aps = observations.select(
        "request_id", "mac_addr", "ap_lat", "ap_lon", "signal_strength"
    ).dropDuplicates(["request_id", "mac_addr"])

    w = F.pow(
        10.0,
        F.greatest(
            F.lit(0.0),
            F.least(F.lit(1.0), (F.col("signal_strength") + 30.0) / (-70.0)),
        ),
    )
    stats = aps.withColumn("_w", w).groupBy("request_id").agg(
        F.count("*").alias("n_aps"),
        F.avg("ap_lat").alias("mean_lat"),
        F.avg("ap_lon").alias("mean_lon"),
        F.var_pop("ap_lat").alias("cov_ll"),
        F.var_pop("ap_lon").alias("cov_oo"),
        F.covar_pop("ap_lat", "ap_lon").alias("cov_lo"),
        (F.sum(F.col("ap_lat") * F.col("_w")) / F.sum("_w")).alias("est_lat"),
        (F.sum(F.col("ap_lon") * F.col("_w")) / F.sum("_w")).alias("est_lon"),
    )

    # ---- collinearity: residuals vs line of best fit ----
    # try_divide: var_pop(lon)=0 for degenerate/single-AP requests (ANSI /0)
    slope = F.try_divide(F.col("cov_lo"), F.col("cov_oo"))
    line = stats.select(
        "request_id",
        "n_aps",
        "mean_lat",
        "mean_lon",
        "est_lat",
        "est_lon",
        "cov_ll",
        "cov_oo",
        slope.alias("slope"),
        (F.col("mean_lat") - slope * F.col("mean_lon")).alias("intercept"),
    )
    joined = aps.join(line, "request_id")
    dev = joined.groupBy("request_id").agg(
        F.max(
            F.abs(F.col("ap_lat") - (F.col("slope") * F.col("ap_lon") + F.col("intercept")))
        ).alias("max_deviation")
    )
    collinear = line.join(dev, "request_id").select(
        "request_id",
        "n_aps",
        "est_lat",
        "est_lon",
        (
            (F.col("n_aps") >= 3)
            & (
                (F.col("cov_ll") < C.SINGULARITY)
                | (F.col("cov_oo") < C.SINGULARITY)
                | (F.coalesce(F.col("max_deviation"), F.lit(0.0)) <= C.COLLINEARITY_MAX_DEVIATION_DEG)
            )
        ).alias("is_collinear"),
    )

    # ---- GDOP: unit vectors from estimate (local-meters projection) ----
    with_est = aps.join(collinear.select("request_id", "est_lat", "est_lon"), "request_id")
    dx = (F.col("ap_lon") - F.col("est_lon")) * METERS_PER_DEG * F.cos(F.radians(F.col("est_lat")))
    dy = (F.col("ap_lat") - F.col("est_lat")) * METERS_PER_DEG
    r = F.sqrt(dx * dx + dy * dy)
    ux = dx / F.greatest(r, F.lit(1e-9))
    uy = dy / F.greatest(r, F.lit(1e-9))
    hth = (
        with_est.withColumn("_ux", ux)
        .withColumn("_uy", uy)
        .groupBy("request_id")
        .agg(
            F.sum(F.col("_ux") * F.col("_ux")).alias("a"),  # HtH[0,0]
            F.sum(F.col("_ux") * F.col("_uy")).alias("b"),  # HtH[0,1]
            F.sum(F.col("_uy") * F.col("_uy")).alias("c"),  # HtH[1,1]
        )
    )
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    # trace((HtH)^-1) = (a + c) / det for the 2x2 analytic inverse
    gdop_raw = F.sqrt(F.try_divide(F.col("a") + F.col("c"), det))
    gdop = (
        F.when(F.abs(det) < C.SINGULARITY, F.lit(C.GDOP_MAX))
        .otherwise(F.coalesce(F.least(F.lit(C.GDOP_MAX), gdop_raw), F.lit(C.GDOP_MAX)))
        .alias("gdop")
    )
    gdop_df = hth.select("request_id", gdop)

    # <3 APs → no meaningful geometry: POOR (GeometricQualityFactor:250-252)
    return collinear.join(gdop_df, "request_id").select(
        "request_id",
        "is_collinear",
        F.when(F.col("n_aps") < 3, F.lit(C.GDOP_MAX)).otherwise(F.col("gdop")).alias("gdop"),
        F.when(F.col("n_aps") < 3, "POOR_GDOP")
        .when(F.col("is_collinear"), "COLLINEAR")
        .when(F.col("gdop") < C.GDOP_EXCELLENT, "EXCELLENT_GDOP")
        .when(F.col("gdop") < C.GDOP_GOOD, "GOOD_GDOP")
        .when(F.col("gdop") < C.GDOP_FAIR, "FAIR_GDOP")
        .otherwise("POOR_GDOP")
        .alias("geometric_quality"),
    )


def build_context(observations: DataFrame) -> DataFrame:
    """Full SelectionContext: one row per request with all four factor classes."""
    sig = signal_context(observations)
    geo = geometric_context(observations)
    return sig.join(geo, "request_id", "left").fillna(
        {"is_collinear": False, "gdop": C.GDOP_MAX, "geometric_quality": "POOR_GDOP"}
    )
