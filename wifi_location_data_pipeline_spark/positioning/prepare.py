"""Request preparation: explode scans, attach known APs, physics gate.

Mirrors PositioningServiceImpl.calculatePosition's lookup/filter phases
(wifi-positioning-service/.../service/PositioningServiceImpl.java:168-190,
350-363) and WifiPositioningCalculator's AP-map build + scan filtering
(.../algorithm/WifiPositioningCalculator.java:296-311), Spark-first:
the ≤100-key DynamoDB BatchGetItem becomes a broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.identifiers import normalize_bssid


def explode_requests(requests: DataFrame) -> DataFrame:
    """Nested positioning requests → one row per scan observation.

    Input schema: POSITIONING_REQUEST_SCHEMA; output columns: request_id,
    n_scanned, mac_addr (normalized), signal_strength, frequency, ssid,
    link_speed, channel_width.
    """
    s = F.col("s")
    return requests.select(
        F.col("requestId").alias("request_id"),
        # request-level scan count from the nested array BEFORE exploding —
        # zero-shuffle replacement for a groupBy+join-back
        F.size("wifiScanResults").alias("n_scanned"),
        F.explode("wifiScanResults").alias("s"),
    ).select(
        "request_id",
        "n_scanned",
        normalize_bssid(s.getField("macAddress")).alias("mac_addr"),
        s.getField("signalStrength").alias("signal_strength"),
        s.getField("frequency").alias("frequency"),
        s.getField("ssid").alias("ssid"),
        s.getField("linkSpeed").alias("link_speed"),
        s.getField("channelWidth").alias("channel_width"),
    )


def known_ap_lookup(access_points: DataFrame) -> DataFrame:
    """AP golden records usable for positioning, one row per mac: filter to
    usable statuses (WifiAccessPoint.java:37-38; PositioningServiceImpl.java:
    350-356), keep-first by version on duplicate mac, and rename to the
    ``ap_*`` columns the positioning plans read. Long-running callers (the
    positioning stream) prepare and cache it once."""
    return (
        access_points.filter(F.col("status").isin(*C.VALID_AP_STATUSES))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("mac_addr").orderBy(F.col("version").asc_nulls_last())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("mac_addr"),
            F.col("latitude").alias("ap_lat"),
            F.col("longitude").alias("ap_lon"),
            F.col("altitude").alias("ap_alt"),
            F.col("horizontal_accuracy").alias("ap_haccuracy"),
            F.col("vertical_accuracy").alias("ap_vaccuracy"),
            F.col("confidence").alias("ap_confidence"),
            F.col("vendor").alias("ap_vendor"),
        )
    )


def join_known_aps(observations: DataFrame, access_points: DataFrame) -> DataFrame:
    """Attach the ``known_ap_lookup`` record of each observation's mac.

    Unknown MACs are dropped (inner join) — the reference ignores scans whose
    AP is absent from the store (WifiPositioningCalculator.filterValidScans).
    """
    return observations.join(
        F.broadcast(known_ap_lookup(access_points)), "mac_addr", "inner"
    )


def physics_gate(observations: DataFrame) -> DataFrame:
    """Drop entire requests whose scan set violates signal physics
    (SignalPhysicsValidator.java:31-107):

    - any RSSI outside [-100, -30] → invalid
    - within a frequency group: if max > -50 dBm, spread must be ≤ 45 dB
      (boundary special case max==-30 ∧ min==-100 passes)
    """
    per_freq = observations.groupBy("request_id", "frequency").agg(
        F.max("signal_strength").alias("_mx"),
        F.min("signal_strength").alias("_mn"),
    )
    bad = per_freq.filter(
        (F.col("_mx") > C.PHYSICS_RSSI_MAX)
        | (F.col("_mn") < C.PHYSICS_RSSI_MIN)
        | (
            (F.col("_mx") > C.PHYSICS_STRONG_SIGNAL_GATE)
            & ((F.col("_mx") - F.col("_mn")) > C.PHYSICS_MAX_SPREAD_DB)
            & ~((F.col("_mx") == C.PHYSICS_RSSI_MAX) & (F.col("_mn") == C.PHYSICS_RSSI_MIN))
        )
    ).select("request_id").distinct()
    return observations.join(bad, "request_id", "left_anti")

