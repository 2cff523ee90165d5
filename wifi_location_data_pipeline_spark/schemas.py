"""Declared StructTypes for every dataset the engine touches.

Schemas are fixed/declared (the reference uses Jackson records with
ignore-unknown semantics — equivalent to Spark PERMISSIVE JSON mode with a
user-supplied schema; SURVEY.md §1.2).

Sources of truth in the reference repo:
- raw scan document: wifi-measurements-transformer-service/.../dto/WifiScanData.java:16-27
  (+ WifiConnectedEvent/WifiConnectedInfo/ScanResult/ScanResultEntry/LocationData)
- wifi_measurements: documents/wifi_measurement_s3_table_schema.md:6-68,
  mirrored by .../dto/WifiMeasurement.java:13-75 (44 columns, 7 groups)
- wifi_access_points: wifi-positioning-service/.../dto/WifiAccessPoint.java:21-101
- positioning request: wifi-positioning-service/.../dto/WifiPositioningRequest.java:10-27,
  WifiScanResult.java:18-34
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F1: raw nested scan document
# ---------------------------------------------------------------------------

LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("accuracy", T.DoubleType()),
        T.StructField("time", T.LongType()),
        T.StructField("provider", T.StringType()),
        T.StructField("speed", T.DoubleType()),
        T.StructField("bearing", T.DoubleType()),
    ]
)

WIFI_CONNECTED_INFO_SCHEMA = T.StructType(
    [
        T.StructField("bssid", T.StringType()),
        T.StructField("ssid", T.StringType()),
        T.StructField("numOfScanResults", T.IntegerType()),
        T.StructField("linkSpeed", T.IntegerType()),
        T.StructField("frequency", T.IntegerType()),
        T.StructField("rssi", T.IntegerType()),
        T.StructField("capabilities", T.StringType()),
        T.StructField("centerFreq0", T.IntegerType()),
        T.StructField("centerFreq1", T.IntegerType()),
        T.StructField("channelWidth", T.IntegerType()),
        T.StructField("operatorFriendlyName", T.StringType()),
        T.StructField("venueName", T.StringType()),
        T.StructField("is80211mcResponder", T.BooleanType()),
        T.StructField("isPasspointNetwork", T.BooleanType()),
    ]
)

WIFI_CONNECTED_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("eventId", T.StringType()),
        T.StructField("eventType", T.StringType()),
        T.StructField("isCaptive", T.BooleanType()),
        T.StructField("returnedIP", T.StringType()),
        T.StructField("wifiConnectedInfo", WIFI_CONNECTED_INFO_SCHEMA),
        T.StructField("location", LOCATION_SCHEMA),
    ]
)

SCAN_RESULT_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("ssid", T.StringType()),
        T.StructField("bssid", T.StringType()),
        T.StructField("scantime", T.LongType()),
        T.StructField("rssi", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
    ]
)

SCAN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        T.StructField("mode", T.StringType()),
        T.StructField("location", LOCATION_SCHEMA),
        T.StructField("results", T.ArrayType(SCAN_RESULT_ENTRY_SCHEMA)),
    ]
)

RAW_SCAN_DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("osVersion", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("device", T.StringType()),
        T.StructField("manufacturer", T.StringType()),
        T.StructField("osName", T.StringType()),
        T.StructField("sdkInt", T.StringType()),
        T.StructField("appNameVersion", T.StringType()),
        T.StructField("dataVersion", T.StringType()),
        T.StructField("wifiConnectedEvents", T.ArrayType(WIFI_CONNECTED_EVENT_SCHEMA)),
        T.StructField("scanResults", T.ArrayType(SCAN_RESULT_SCHEMA)),
    ]
)

# ---------------------------------------------------------------------------
# F2: wifi_measurements — the 45-column flat fact table (SCHEMA.md enumerates 45 incl. quality_score)
# ---------------------------------------------------------------------------

WIFI_MEASUREMENTS_SCHEMA = T.StructType(
    [
        # keys
        T.StructField("bssid", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("measurement_timestamp", T.LongType()),
        T.StructField("event_id", T.StringType()),
        # device info
        T.StructField("device_id", T.StringType()),
        T.StructField("device_model", T.StringType()),
        T.StructField("device_manufacturer", T.StringType()),
        T.StructField("os_version", T.StringType()),
        T.StructField("app_version", T.StringType()),
        # GNSS location
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("location_accuracy", T.DoubleType()),
        T.StructField("location_timestamp", T.LongType()),
        T.StructField("location_provider", T.StringType()),
        T.StructField("location_source", T.StringType()),
        T.StructField("speed", T.DoubleType()),
        T.StructField("bearing", T.DoubleType()),
        # signal
        T.StructField("ssid", T.StringType()),
        T.StructField("rssi", T.IntegerType()),
        T.StructField("frequency", T.IntegerType()),
        T.StructField("scan_timestamp", T.LongType()),
        # quality tier
        T.StructField("connection_status", T.StringType()),  # 'CONNECTED' | 'SCAN'
        T.StructField("quality_weight", T.DoubleType()),
        # connected-only enrichment (NULL for SCAN rows)
        T.StructField("link_speed", T.IntegerType()),
        T.StructField("channel_width", T.IntegerType()),
        T.StructField("center_freq0", T.IntegerType()),
        T.StructField("center_freq1", T.IntegerType()),
        T.StructField("capabilities", T.StringType()),
        T.StructField("is_80211mc_responder", T.BooleanType()),
        T.StructField("is_passpoint_network", T.BooleanType()),
        T.StructField("operator_friendly_name", T.StringType()),
        T.StructField("venue_name", T.StringType()),
        T.StructField("is_captive", T.BooleanType()),
        T.StructField("num_scan_results", T.IntegerType()),
        # global outlier flags (NULL until the outlier job runs)
        T.StructField("is_global_outlier", T.BooleanType()),
        T.StructField("global_outlier_distance", T.DoubleType()),
        T.StructField("global_outlier_threshold", T.DoubleType()),
        T.StructField("global_detection_algorithm", T.StringType()),
        T.StructField("global_detection_timestamp", T.TimestampType()),
        T.StructField("global_detection_version", T.StringType()),
        # processing metadata
        T.StructField("ingestion_timestamp", T.TimestampType()),
        T.StructField("data_version", T.StringType()),
        T.StructField("processing_batch_id", T.StringType()),
        T.StructField("quality_score", T.DoubleType()),
    ]
)

# ---------------------------------------------------------------------------
# F3: wifi_access_points — golden-record AP dimension
# ---------------------------------------------------------------------------

WIFI_ACCESS_POINTS_SCHEMA = T.StructType(
    [
        T.StructField("mac_addr", T.StringType(), nullable=False),
        T.StructField("version", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("horizontal_accuracy", T.DoubleType()),
        T.StructField("vertical_accuracy", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("ssid", T.StringType()),
        T.StructField("frequency", T.IntegerType()),
        T.StructField("vendor", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("geohash", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# F4: positioning requests (one row per request, its scans nested)
# ---------------------------------------------------------------------------

WIFI_SCAN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("macAddress", T.StringType()),
        T.StructField("signalStrength", T.DoubleType()),
        T.StructField("frequency", T.IntegerType()),
        T.StructField("ssid", T.StringType()),
        T.StructField("linkSpeed", T.IntegerType()),
        T.StructField("channelWidth", T.IntegerType()),
    ]
)

POSITIONING_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("requestId", T.StringType(), nullable=False),
        T.StructField("client", T.StringType()),
        T.StructField("application", T.StringType()),
        T.StructField("calculationDetail", T.BooleanType()),
        T.StructField("wifiScanResults", T.ArrayType(WIFI_SCAN_RESULT_SCHEMA)),
    ]
)
