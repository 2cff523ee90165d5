"""Mobile-hotspot detection: OUI blacklist tier + behavioral tier.

OUI tier (transform-time): DataValidationService.detectMobileHotspot
(wifi-measurements-transformer-service/.../DataValidationService.java:504-535),
actions FLAG / EXCLUDE / LOG_ONLY
(.../config/properties/DataFilteringConfigurationProperties.java:74-78),
blacklist application.yml:137-147.

Behavioral tier (batch): FRAMEWORK doc :55-69 — per-BSSID spatial spread,
SSID-name blacklist, delete-all-rows semantics (SCHEMA.md:139-143).

Spark-first shape: the blacklist is a tiny broadcast dimension; EXCLUDE is a
broadcast left-anti join, FLAG a broadcast left join → boolean. At 100 TB the
blacklist join adds no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import haversine_m
from wifi_location_data_pipeline_spark.functions.identifiers import oui


def hotspot_oui_df(spark: SparkSession, ouis: tuple[str, ...] = C.HOTSPOT_OUI_BLACKLIST) -> DataFrame:
    return spark.createDataFrame([(o.upper(),) for o in ouis], "hotspot_oui string")


def apply_oui_filter(
    measurements: DataFrame,
    blacklist: DataFrame,
    action: str = C.HOTSPOT_ACTION_EXCLUDE,
) -> DataFrame:
    """EXCLUDE → anti-join; FLAG → boolean column; LOG_ONLY → passthrough."""
    m = measurements.withColumn("_oui", oui(F.col("bssid")))
    on = m["_oui"] == blacklist["hotspot_oui"]
    if action == C.HOTSPOT_ACTION_EXCLUDE:
        return m.join(F.broadcast(blacklist), on, "left_anti").drop("_oui")
    if action == C.HOTSPOT_ACTION_FLAG:
        return (
            m.join(F.broadcast(blacklist), on, "left")
            .withColumn("is_mobile_hotspot_oui", F.col("hotspot_oui").isNotNull())
            .drop("hotspot_oui", "_oui")
        )
    return m.drop("_oui")


def behavioral_hotspot_bssids(
    measurements: DataFrame,
    spatial_stddev_m: float = C.HOTSPOT_SPATIAL_STDDEV_M,
    ssid_patterns: tuple[str, ...] = C.HOTSPOT_SSID_PATTERNS,
) -> DataFrame:
    """BSSIDs that behave like mobile hotspots (FRAMEWORK:55-69).

    Signals: (a) spatial spread — mean distance from the AP's centroid above
    ``spatial_stddev_m``; (b) hotspot-style SSID names. Returns one column
    ``bssid``; callers DELETE (anti-join) these from the fact table.
    """
    ssid_regex = "|".join(ssid_patterns)
    # centroid as a window aggregate: one bssid exchange, which the groupBy
    # below reuses (no centroid re-join, no second scan)
    ap = Window.partitionBy("bssid")
    spread = (
        measurements.select(
            "bssid",
            haversine_m(
                F.col("latitude"), F.col("longitude"),
                F.avg("latitude").over(ap), F.avg("longitude").over(ap),
            ).alias("_dist_m"),
            F.col("ssid").rlike(ssid_regex).cast("int").alias("_ssid_hit"),
        )
        .groupBy("bssid")
        .agg(F.avg("_dist_m").alias("_mean_dist"), F.max("_ssid_hit").alias("_ssid_hit"))
    )
    return spread.filter(
        (F.col("_mean_dist") > spatial_stddev_m) | (F.col("_ssid_hit") == 1)
    ).select("bssid")


def delete_hotspot_rows(measurements: DataFrame, hotspot_bssids: DataFrame) -> DataFrame:
    """DELETE FROM wifi_measurements WHERE bssid IN (hotspots) — emulated as an
    anti-join (SCHEMA.md:139-143; lakehouse DML in a real deployment)."""
    return measurements.join(F.broadcast(hotspot_bssids), "bssid", "left_anti")
