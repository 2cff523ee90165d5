"""Flatten raw scan documents into wifi_measurements rows.

The transform proper (SURVEY.md §2.3). Semantics from
wifi-measurements-transformer-service/.../WifiDataTransformationService.java:
- connected events, one row each (:180-189, :240-281, :283-340)
- scan results, two levels, parent location carried (:170-178, :374-395, :481-542)
- concatenation of tiers (:147-168) — scan rows carry NULL for the 11 connected-only cols
- derived columns: device_id (:748-761), event_id (:789-791),
  quality_weight (:653-660), quality_score (:698-718)

Spark expression (``flatten_tiers``): ONE ``inline`` generator over
``concat(connected rows, flatten(scan rows))``, all JVM-side. Both tiers
come from one pass over the documents, so the raw zone is scanned and the
codec's gzip UDF runs once per line (an ``explode`` per tier joined by
``unionByName`` would plan the whole document lineage, scan and decode
included, once per tier). ``flatten_connected_events`` /
``flatten_scan_results`` are tier filters of the same generator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark.functions.identifiers import (
    clean_ssid,
    device_id,
    event_id,
    normalize_bssid,
    row_id,
)
from wifi_location_data_pipeline_spark.functions.quality import quality_score, quality_weight

# The 11 connected-only enrichment columns (SCHEMA.md:42-53)
CONNECTED_ONLY_COLS = (
    "link_speed",
    "channel_width",
    "center_freq0",
    "center_freq1",
    "capabilities",
    "is_80211mc_responder",
    "is_passpoint_network",
    "operator_friendly_name",
    "venue_name",
    "is_captive",
    "num_scan_results",
)


def _device_cols(df: DataFrame) -> list[Column]:
    return [
        device_id(
            F.col("manufacturer"), F.col("model"), F.col("device"), F.col("osVersion")
        ).alias("device_id"),
        F.col("model").alias("device_model"),
        F.col("manufacturer").alias("device_manufacturer"),
        F.col("osVersion").alias("os_version"),
        F.col("appNameVersion").alias("app_version"),
        F.col("dataVersion").alias("data_version"),
    ]


def _location_cols(loc: Column) -> list[Column]:
    return [
        loc.getField("latitude").alias("latitude"),
        loc.getField("longitude").alias("longitude"),
        loc.getField("altitude").alias("altitude"),
        loc.getField("accuracy").alias("location_accuracy"),
        loc.getField("time").alias("location_timestamp"),
        loc.getField("provider").alias("location_provider"),
        loc.getField("source").alias("location_source"),
        loc.getField("speed").alias("speed"),
        loc.getField("bearing").alias("bearing"),
    ]


# Column order of a flattened row (both tiers)
FLAT_COLS = (
    "bssid",
    "measurement_timestamp",
    "device_id",
    "device_model",
    "device_manufacturer",
    "os_version",
    "app_version",
    "data_version",
    "latitude",
    "longitude",
    "altitude",
    "location_accuracy",
    "location_timestamp",
    "location_provider",
    "location_source",
    "speed",
    "bearing",
    "ssid",
    "rssi",
    "frequency",
    "scan_timestamp",
    "connection_status",
    *CONNECTED_ONLY_COLS,
    "source_file",
)


def _connected_row(e: Column) -> Column:
    """One wifiConnectedEvents[] element → a tier row struct."""
    info = e.getField("wifiConnectedInfo")
    return F.struct(
        normalize_bssid(info.getField("bssid")).alias("bssid"),
        e.getField("timestamp").alias("measurement_timestamp"),
        *_location_cols(e.getField("location")),
        clean_ssid(info.getField("ssid")).alias("ssid"),
        info.getField("rssi").alias("rssi"),
        info.getField("frequency").alias("frequency"),
        e.getField("timestamp").alias("scan_timestamp"),
        F.lit("CONNECTED").alias("connection_status"),
        info.getField("linkSpeed").alias("link_speed"),
        info.getField("channelWidth").alias("channel_width"),
        info.getField("centerFreq0").alias("center_freq0"),
        info.getField("centerFreq1").alias("center_freq1"),
        info.getField("capabilities").alias("capabilities"),
        info.getField("is80211mcResponder").alias("is_80211mc_responder"),
        info.getField("isPasspointNetwork").alias("is_passpoint_network"),
        info.getField("operatorFriendlyName").alias("operator_friendly_name"),
        info.getField("venueName").alias("venue_name"),
        e.getField("isCaptive").alias("is_captive"),
        info.getField("numOfScanResults").alias("num_scan_results"),
    )


def _scan_row(sr: Column, r: Column) -> Column:
    """One scanResults[].results[] entry → a tier row struct; the parent
    scan's timestamp and location are shared by its entries."""
    return F.struct(
        normalize_bssid(r.getField("bssid")).alias("bssid"),
        sr.getField("timestamp").alias("measurement_timestamp"),
        *_location_cols(sr.getField("location")),
        clean_ssid(r.getField("ssid")).alias("ssid"),
        r.getField("rssi").alias("rssi"),
        F.lit(None).cast("int").alias("frequency"),
        r.getField("scantime").alias("scan_timestamp"),
        F.lit("SCAN").alias("connection_status"),
        *[F.lit(None).cast(t).alias(c) for c, t in (
            ("link_speed", "int"), ("channel_width", "int"),
            ("center_freq0", "int"), ("center_freq1", "int"),
            ("capabilities", "string"), ("is_80211mc_responder", "boolean"),
            ("is_passpoint_network", "boolean"), ("operator_friendly_name", "string"),
            ("venue_name", "string"), ("is_captive", "boolean"),
            ("num_scan_results", "int"),
        )],
    )


def flatten_tiers(docs: DataFrame) -> DataFrame:
    """Both tiers from ONE ``Generate``: ``inline`` over the concatenation of
    the connected-event rows and the (two-level) scan-result rows.

    Every array is ``coalesce``d to empty first: ``concat`` and ``flatten``
    return NULL when any input is NULL, which would drop the whole document
    (a NULL ``wifiConnectedEvents`` would lose its scan rows, a NULL
    ``results`` its sibling scans' and connected rows)."""
    connected = F.transform("wifiConnectedEvents", _connected_row)
    scans = F.flatten(F.transform(
        "scanResults",
        lambda sr: F.coalesce(
            F.transform(sr.getField("results"), lambda r: _scan_row(sr, r)), F.array()
        ),
    ))
    rows = F.concat(F.coalesce(connected, F.array()), F.coalesce(scans, F.array()))
    return docs.select(
        *_device_cols(docs),
        F.inline(rows),
        F.col("source_file") if "source_file" in docs.columns else F.lit(None).cast("string").alias("source_file"),
    ).select(*FLAT_COLS)


def flatten_connected_events(docs: DataFrame) -> DataFrame:
    """Connected tier of ``flatten_tiers``: one row per wifiConnectedEvents[]
    element with device + location context."""
    return flatten_tiers(docs).filter(F.col("connection_status") == "CONNECTED")


def flatten_scan_results(docs: DataFrame) -> DataFrame:
    """Scan tier of ``flatten_tiers``: one row per scanResults[].results[]
    entry; the parent scan's location is shared."""
    return flatten_tiers(docs).filter(F.col("connection_status") == "SCAN")


def union_tiers(connected: DataFrame, scans: DataFrame) -> DataFrame:
    """Stream.concat of two separately built tiers
    (WifiDataTransformationService.java:167); ``flatten_tiers`` builds both
    in one pass."""
    return connected.unionByName(scans, allowMissingColumns=True)


def with_derived_columns(measurements: DataFrame, batch_id: str = "batch-0") -> DataFrame:
    """Attach quality weight/score, deterministic ids, processing metadata.

    ``processing_batch_id`` is per source FILE when lineage is available
    (the reference allocates one batch id per processed object,
    DefaultFeedProcessor.java:70; the file path is its deterministic
    equivalent), falling back to the caller-supplied run id."""
    eid = event_id(F.col("measurement_timestamp"), F.col("bssid"))
    pbid = (
        F.coalesce(F.col("source_file"), F.lit(batch_id))
        if "source_file" in measurements.columns
        else F.lit(batch_id)
    )
    return (
        measurements.withColumn("event_id", eid)
        .withColumn("id", row_id(F.col("event_id"), F.col("connection_status")))
        .withColumn(
            "quality_weight",
            quality_weight(F.col("connection_status"), F.col("link_speed"), F.col("rssi")),
        )
        .withColumn("quality_score", quality_score(F.col("location_accuracy"), F.col("rssi")))
        .withColumn("ingestion_timestamp", F.current_timestamp())
        .withColumn("processing_batch_id", pbid)
    )
