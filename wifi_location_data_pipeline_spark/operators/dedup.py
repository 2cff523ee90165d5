"""Measurement deduplication.

The reference dedups on the deterministic ``event_id`` within a 5-second
window (application.yml:171; event_id = sha256(ts:bssid),
WifiDataTransformationService.java:789-791). Batch shape: keep-first per
event_id; the ingest stream (streaming/ingest.py) dedups inline with
dropDuplicatesWithinWatermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_measurements(measurements: DataFrame) -> DataFrame:
    """Exact dedup on event_id + connection tier (batch).

    ``dropDuplicates`` compiles to a hash aggregate with map-side partial
    dedup — the minimal-shuffle plan for exact dedup at scale.
    """
    return measurements.dropDuplicates(["event_id", "connection_status"])
