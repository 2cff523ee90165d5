"""Raw scan-document readers.

Replaces the reference's S3→EventBridge→SQS→poller chain
(wifi-measurements-transformer-service/.../SqsMessageReceiver.java:330-379,
S3FileProcessorService.java:52-90) with Spark's built-in file-source
discovery: point ``read``/``readStream`` at the raw zone and new objects are
listed, split, and scheduled by the engine. No notification plumbing, no
150 MB object guard (Spark splits large files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wifi_location_data_pipeline_spark.sources.codec import decode_scan_lines


def read_raw_scan_documents(spark: SparkSession, path: str) -> DataFrame:
    """Batch read: base64+gzip NDJSON line files → typed scan documents."""
    return decode_scan_lines(spark.read.text(path))


def read_raw_scan_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming read of the same raw zone (file-source discovery).

    Each micro-batch processes newly arrived objects — the Spark-native
    equivalent of the SQS S3-event loop.
    """
    return decode_scan_lines(spark.readStream.text(path))
