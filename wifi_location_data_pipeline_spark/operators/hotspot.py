"""Mobile-hotspot detection: OUI blacklist tier + behavioral tier.

OUI tier (transform-time): DataValidationService.detectMobileHotspot
(wifi-measurements-transformer-service/.../DataValidationService.java:504-535),
actions FLAG / EXCLUDE / LOG_ONLY
(.../config/properties/DataFilteringConfigurationProperties.java:74-78),
blacklist application.yml:137-147.

Behavioral tier (batch): FRAMEWORK doc :55-69 — per-BSSID spatial spread,
SSID-name blacklist, delete-all-rows semantics (SCHEMA.md:139-143).

Spark-first shape: the blacklist is a literal ``IN`` list on the OUI, a
narrow filter (EXCLUDE) or projection (FLAG): no join, no shuffle and no
driver-built dimension to scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import haversine_m
from wifi_location_data_pipeline_spark.functions.identifiers import oui


def apply_oui_filter(
    measurements: DataFrame,
    ouis: tuple[str, ...] = C.HOTSPOT_OUI_BLACKLIST,
    action: str = C.HOTSPOT_ACTION_EXCLUDE,
) -> DataFrame:
    """EXCLUDE → drop blacklisted rows; FLAG → boolean column; LOG_ONLY →
    passthrough. Null-safe: a NULL OUI is never blacklisted, so EXCLUDE
    keeps its row and FLAG gives ``false``."""
    hit = F.coalesce(oui(F.col("bssid")).isin(*(o.upper() for o in ouis)), F.lit(False))
    if action == C.HOTSPOT_ACTION_EXCLUDE:
        return measurements.filter(~hit)
    if action == C.HOTSPOT_ACTION_FLAG:
        return measurements.withColumn("is_mobile_hotspot_oui", hit)
    return measurements


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
