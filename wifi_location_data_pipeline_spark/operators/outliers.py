"""Global spatial outlier detection per AP (SURVEY.md §2.9 — built from the
design docs; the reference's code layer is stubbed).

Spec (FRAMEWORK doc :111; table schema doc :55-61, 111-125): per BSSID, compute
the measurement cloud's centroid, each row's haversine distance to it, and flag
rows with distance > 3×MAD (alternatives: IQR, PERCENTILE). The six flag
columns are then written back (UPDATE … CASE per event_id → here: a join-based
column replacement, see table_dml.py).

Spark shape: the centroid ``avg``, the distance, the percentiles and the
threshold are all window aggregates over ONE ``Window.partitionBy("bssid")``,
so every detector plans one scan of its input and one
``Exchange hashpartitioning(bssid)``, with the window operators (MAD stacks
two: the median, then the median of deviations from it) pipelined on that
partitioning. A downstream per-bssid window or groupBy (the behavioral
hotspot pass) reuses it; a per-AP aggregate joined back per statistic would
re-scan and re-shuffle the input for each one. ``exact=False`` uses
``percentile_approx`` (t-digest); exactness of the 3×MAD boundary is not
required by the spec (the threshold itself is heuristic). For the
DuckDB-checked oracle variant the registry uses exact percentiles at small SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import haversine_m

DETECTION_VERSION = "spark-mad-1.0"


def flag_global_outliers(
    measurements: DataFrame,
    algorithm: str = "MAD",
    exact: bool = False,
) -> DataFrame:
    """Return measurements with the six global-outlier columns populated.

    ``algorithm``: MAD (default), IQR (Q3 + 1.5×IQR), or PERCENTILE (p99) —
    the three detector variants named by SCHEMA doc :59.
    """
    if algorithm not in C.OUTLIER_ALGORITHMS:
        raise ValueError(f"unknown outlier algorithm: {algorithm}")
    ap = Window.partitionBy("bssid")

    def pct(c, p):
        if exact:
            return F.percentile(c, F.lit(p)).over(ap)
        return F.percentile_approx(c, F.lit(p), F.lit(10000)).over(ap)

    dist = F.col("_dist_m")
    with_dist = measurements.withColumn(
        "_dist_m",
        haversine_m(
            F.col("latitude"), F.col("longitude"),
            F.avg("latitude").over(ap), F.avg("longitude").over(ap),
        ),
    )
    if algorithm == "MAD":
        med = with_dist.withColumn("_med", pct(dist, 0.5))
        thr = med.withColumn(
            "_threshold",
            F.col("_med") + C.OUTLIER_MAD_MULTIPLIER * pct(F.abs(dist - F.col("_med")), 0.5),
        )
    elif algorithm == "IQR":
        q3 = pct(dist, 0.75)
        thr = with_dist.withColumn("_threshold", q3 + 1.5 * (q3 - pct(dist, 0.25)))
    else:
        thr = with_dist.withColumn("_threshold", pct(dist, 0.99))

    return (
        thr.withColumn("is_global_outlier", dist > F.col("_threshold"))
        .withColumn("global_outlier_distance", dist)
        .withColumn("global_outlier_threshold", F.col("_threshold"))
        .withColumn("global_detection_algorithm", F.lit(algorithm))
        .withColumn("global_detection_timestamp", F.current_timestamp())
        .withColumn("global_detection_version", F.lit(DETECTION_VERSION))
        .drop("_dist_m", "_med", "_threshold")
    )


def delete_outlier_rows(measurements: DataFrame) -> DataFrame:
    """DELETE FROM wifi_measurements WHERE is_global_outlier (SCHEMA doc :130-135),
    emulated as a filter for the parquet stand-in."""
    return measurements.filter(
        ~F.coalesce(F.col("is_global_outlier"), F.lit(False))
    )
