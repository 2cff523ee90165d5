"""Weighted-average position combiner with robust statistics — pure column exprs.

Implements WeightedAveragePositionCombiner.java:105-461 + the geometric
quality utilities of GDOPCalculator.java:650-731 and
GeometricQualityFactor.isCollinear:158-205:

- normalized-weight average of per-algorithm positions (lat/lon/alt/confidence)
- robust accuracy: exact median of the ≤K accuracies (K ≤ 3 after selection,
  so the median-only small-sample branch of :320-327 always applies; the
  70/30 median/trimmed-mean blend for larger K is included for generality)
- 2-MAD outlier inflation (up to +50%)
- covariance → condition number → geometric quality factor
- collinearity (line-of-best-fit max deviation ≤ 0.0002°) → confidence cap 0.69

The per-request groups are tiny (≤3 rows) and exact order statistics are
required, so values are gathered with collect_list and reduced with Spark's
higher-order array functions — exact, JVM-side, no UDF (SURVEY §7: do NOT use
approx percentiles here).

This is the row-wise reference combiner of the multipass plan
(pipeline.position_requests_multipass) and the ``position_combiner_robust``
oracle companion. Production combines in onepass_kernel._combine, tied to
this formulation by the onepass-vs-multipass parity tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C


def _median_expr(sorted_arr: Column) -> Column:
    """Exact median of a sorted array column."""
    n = F.size(sorted_arr)
    mid = (n / 2).cast("int")
    odd = F.element_at(sorted_arr, mid + 1)
    even = (F.element_at(sorted_arr, mid) + F.element_at(sorted_arr, mid + 1)) / 2.0
    return F.when(n % 2 == 1, odd).otherwise(even)


def _trimmed_mean_expr(sorted_arr: Column, trim: float = C.COMBINER_TRIM_FRACTION) -> Column:
    n = F.size(sorted_arr)
    k = F.floor(n * trim).cast("int")
    kept = F.slice(sorted_arr, k + 1, (n - 2 * k).cast("int"))
    return F.aggregate(kept, F.lit(0.0), lambda acc, x: acc + x) / F.size(kept)


def combine_positions(algorithm_positions: DataFrame) -> DataFrame:
    """(request_id, algorithm, weight, latitude, longitude, altitude, accuracy,
    confidence) → one combined position row per request."""
    df = algorithm_positions

    agg = df.groupBy("request_id").agg(
        F.count("*").alias("n"),
        F.sum("weight").alias("total_w"),
        F.sum(F.col("latitude") * F.col("weight")).alias("swlat"),
        F.sum(F.col("longitude") * F.col("weight")).alias("swlon"),
        F.sum(F.col("altitude") * F.col("weight")).alias("swalt"),
        F.sum(F.col("confidence") * F.col("weight")).alias("swconf"),
        F.array_sort(F.collect_list("accuracy")).alias("accs"),
        F.collect_list(F.struct("latitude", "longitude")).alias("pts"),
        F.max_by(
            F.struct("latitude", "longitude", "altitude", "accuracy", "confidence"),
            F.struct(F.col("weight"), F.col("algorithm")),
        ).alias("top"),
        F.collect_set("algorithm").alias("methods_used"),
    )
    return _finish(agg)


def _finish(agg: DataFrame) -> DataFrame:
    """Combiner core over the aggregate columns
    (n, total_w, swlat/swlon/swalt/swconf, accs, pts, top, methods_used)."""
    # weighted means (the reference normalizes by total weight)
    mean_lat = F.col("swlat") / F.col("total_w")
    mean_lon = F.col("swlon") / F.col("total_w")
    mean_alt = F.col("swalt") / F.col("total_w")
    mean_conf = F.col("swconf") / F.col("total_w")

    # covariance of the raw positions around the weighted mean (:145-151)
    pts = F.col("pts")
    npts = F.size(pts).cast("double")
    cov_ll = (
        F.aggregate(pts, F.lit(0.0), lambda a, p: a + F.pow(p["latitude"] - mean_lat, 2)) / npts
    )
    cov_oo = (
        F.aggregate(pts, F.lit(0.0), lambda a, p: a + F.pow(p["longitude"] - mean_lon, 2)) / npts
    )
    cov_lo = (
        F.aggregate(
            pts,
            F.lit(0.0),
            lambda a, p: a + (p["latitude"] - mean_lat) * (p["longitude"] - mean_lon),
        )
        / npts
    )

    # condition number via analytic 2×2 eigenvalues (GDOPCalculator :650-680)
    trace = cov_ll + cov_oo
    det = cov_ll * cov_oo - cov_lo * cov_lo
    disc = trace * trace - 4.0 * det
    lam1 = (trace + F.sqrt(F.greatest(disc, F.lit(0.0)))) / 2.0
    lam2 = (trace - F.sqrt(F.greatest(disc, F.lit(0.0)))) / 2.0
    cond = F.when(
        (F.abs(det) < C.SINGULARITY) | (disc < 0.0), F.lit(1e12)
    ).otherwise(
        F.coalesce(
            F.try_divide(F.abs(lam1), F.greatest(F.abs(lam2), F.lit(C.SINGULARITY))),
            F.lit(1e12),
        )
    )

    # collinearity of the raw positions around their PLAIN mean (:158-205)
    plain_lat = F.aggregate(pts, F.lit(0.0), lambda a, p: a + p["latitude"]) / npts
    plain_lon = F.aggregate(pts, F.lit(0.0), lambda a, p: a + p["longitude"]) / npts
    pcov_ll = F.aggregate(pts, F.lit(0.0), lambda a, p: a + F.pow(p["latitude"] - plain_lat, 2)) / npts
    pcov_oo = F.aggregate(pts, F.lit(0.0), lambda a, p: a + F.pow(p["longitude"] - plain_lon, 2)) / npts
    pcov_lo = (
        F.aggregate(
            pts, F.lit(0.0), lambda a, p: a + (p["latitude"] - plain_lat) * (p["longitude"] - plain_lon)
        )
        / npts
    )
    slope = F.try_divide(pcov_lo, pcov_oo)  # degenerate vertical line → NULL
    intercept = plain_lat - slope * plain_lon
    max_dev = F.array_max(
        F.transform(pts, lambda p: F.abs(p["latitude"] - (slope * p["longitude"] + intercept)))
    )
    is_collinear = (F.size(pts) >= 3) & (
        (pcov_ll < C.SINGULARITY)
        | (pcov_oo < C.SINGULARITY)
        | (F.coalesce(max_dev, F.lit(0.0)) <= C.COLLINEARITY_MAX_DEVIATION_DEG)
    )

    # geometric quality factor (GDOPCalculator.calculateGeometricQualityFactor :707-731)
    gqf = F.when(
        is_collinear, 2.0 + F.least(F.lit(1.0), F.log10(F.greatest(cond, F.lit(1.0))) / 2.0)
    ).otherwise(
        F.when(cond < 5.0, F.lit(1.0))
        .when(cond < 20.0, 1.0 + (cond - 5.0) / 15.0)
        .otherwise(2.0 + F.least(F.lit(1.0), (cond - 20.0) / 80.0))
    )

    # robust accuracy (:294-360)
    accs = F.col("accs")
    med = _median_expr(accs)
    robust = F.when(F.size(accs) <= 3, med).otherwise(
        0.7 * med + 0.3 * _trimmed_mean_expr(accs)
    )
    deviations = F.array_sort(F.transform(accs, lambda x: F.abs(x - med)))
    mad = _median_expr(deviations)
    outlier_threshold = med + C.COMBINER_MAD_MULTIPLIER * mad
    n_outliers = F.size(F.filter(accs, lambda x: x > outlier_threshold))
    robust = robust * (
        1.0 + (n_outliers.cast("double") / F.size(accs).cast("double")) * 0.5
    )

    geometric_weakness = F.sqrt(cond / 10.0)  # CONDITION_NUMBER_NORMALIZATION
    adj_accuracy = F.when(
        is_collinear,
        F.greatest(F.lit(6.0), robust * F.greatest(gqf, geometric_weakness)),  # MIN_COLLINEAR_ACCURACY
    ).otherwise(F.greatest(robust, robust * gqf))

    # confidence adjustment (:443-461)
    adj_confidence = F.when(
        is_collinear,
        F.least(F.lit(C.COMBINER_COLLINEAR_CONF_CAP), mean_conf / (gqf * 1.2)),
    ).otherwise(mean_conf / F.sqrt(gqf))

    single = F.col("n") == 1
    zero_w = F.col("total_w") <= 0.0
    return agg.select(
        "request_id",
        F.when(single | zero_w, F.col("top.latitude")).otherwise(mean_lat).alias("latitude"),
        F.when(single | zero_w, F.col("top.longitude")).otherwise(mean_lon).alias("longitude"),
        F.when(single | zero_w, F.col("top.altitude")).otherwise(mean_alt).alias("altitude"),
        F.when(single | zero_w, F.col("top.accuracy")).otherwise(adj_accuracy).alias("accuracy"),
        F.when(single | zero_w, F.col("top.confidence")).otherwise(adj_confidence).alias("confidence"),
        F.array_sort("methods_used").alias("methods_used"),
        F.when(single, F.lit(False)).otherwise(is_collinear).alias("is_collinear"),
    )
