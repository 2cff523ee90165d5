"""base64(gzip(JSON)) line codec for raw scan documents.

The reference's record stream is newline-delimited base64(gzip(json)) lines in
S3 objects (encode: wifi-scan-ingestion/.../MessageTransformationService.java:64-99;
decode: wifi-measurements-transformer-service/.../DataDecodingService.java:47-108).
Invalid lines decode to NULL and are dropped — the reference's
``Optional.empty → skip`` semantics.

Spark 4 has no built-in gzip column function, so decompression is an
Arrow-batched pandas UDF (the *only* Python hop in the ingest path; base64 and
JSON parsing stay JVM-side via ``try_to_binary`` / ``from_json``).

The UDF is marked nondeterministic so it runs ONCE per line. Catalyst
inlines a deterministic expression wherever its alias is used, so the
pushed-down ``_json IS NOT NULL`` filter would get its own copy and every
line would be decompressed twice. A nondeterministic projection is neither
inlined nor crossed by filter pushdown: the executed ingest plan
(``transform_documents(read_raw_scan_documents(...))``) has one
``FileScan text`` and one ``ArrowEvalPython``.
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wifi_location_data_pipeline_spark.schemas import RAW_SCAN_DOCUMENT_SCHEMA

# Return types as objects, not DDL strings: string parsing needs an active
# SparkContext, which doesn't exist at import time.


@F.pandas_udf(T.BinaryType())
def _gzip_compress(data: pd.Series) -> pd.Series:
    # mtime=0 → deterministic output bytes (reproducible fixtures)
    return data.map(
        lambda b: None if b is None else gzip.compress(b, mtime=0)
    )


def _gunzip_utf8(data: pd.Series) -> pd.Series:
    def _one(b: bytes | None) -> str | None:
        # empty binary → NULL, not "": gzip.decompress(b"") returns b"" on
        # Python 3.11+ (zero gzip members), and try_to_binary maps
        # whitespace-only base64 to b"" — a tab-only line must be SKIPPED
        # (Java's line.trim() strips tabs; DataDecodingService.java:47-108),
        # not emitted as a phantom empty record. Caught by
        # tests/test_properties.py::test_codec_malformed_lines_decode_to_null.
        if not b:
            return None
        try:
            return gzip.decompress(b).decode("utf-8")
        except (OSError, EOFError, zlib.error, UnicodeDecodeError):
            return None  # invalid line → NULL → dropped downstream

    return data.map(_one)


# Nondeterministic = evaluated once per row (see the module docstring).
_gzip_decompress_utf8 = F.pandas_udf(_gunzip_utf8, T.StringType()).asNondeterministic()


def encode_scan_line(json_col: Column) -> Column:
    """JSON string → base64(gzip(bytes)) line (MessageTransformationService.java:64-99)."""
    return F.base64(_gzip_compress(F.encode(json_col, "UTF-8")))


def decode_line_text(line_col: Column) -> Column:
    """base64(gzip(utf-8)) line → decoded text; NULL on any malformed input
    (the codec half of ``decode_scan_lines``, without the JSON parse).

    Empty lines are NULL, not "": gzip.decompress(b"") returns b"" on
    Python 3.11+ (zero gzip members) instead of raising, which would leak
    empty records past the drop-invalid filter."""
    trimmed = F.trim(line_col)
    return F.when(
        trimmed != "",
        _gzip_decompress_utf8(F.try_to_binary(trimmed, F.lit("base64"))),
    )


def stream_name_expr(path_col: Column) -> Column:
    """Feed/stream identity from an S3-style object path, for per-feed
    dispatch (FeedUploadEvent.extractStreamName, FeedUploadEvent.java:94-126;
    URL-decode :147-165).

    Semantics mirrored exactly:
    - URL-decode only when the key contains ``%`` (graceful on bad encoding:
      fall back to the raw key);
    - the stream name is the second-to-last ``/`` component (right before
      the filename), across all layouts (``year=2025/.../STREAM/file``,
      ``2025/08/13/22/STREAM/file``, ``STREAM/file``);
    - fewer than 2 components, blank, or > 200 chars → ``'unknown'``.
    """
    decoded = F.when(
        path_col.contains("%"), F.coalesce(F.try_url_decode(path_col), path_col)
    ).otherwise(path_col)
    parts = F.split(decoded, "/")
    # F.get (not element_at): NULL on out-of-range instead of an ANSI error
    candidate = F.get(parts, F.size(parts) - 2)
    valid = (
        (F.size(parts) >= 2)
        & candidate.isNotNull()
        & (F.trim(candidate) != "")
        & (F.length(candidate) <= 200)
    )
    return F.when(valid, candidate).otherwise(F.lit("unknown"))


def decode_scan_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """NDJSON-of-base64-gzip lines → typed scan-document rows.

    Column layout out: the full RAW_SCAN_DOCUMENT_SCHEMA plus
    ``source_file`` lineage. Undecodable / unparseable lines are dropped
    (DataDecodingService.java:47-108; DefaultFeedProcessor.java:258-283).
    """
    decoded = (
        lines.withColumn("_trimmed", F.trim(F.col(value_col)))
        .filter(F.col("_trimmed") != "")
        .withColumn(
            # try_to_binary → NULL on malformed base64 (unbase64 raises under ANSI)
            "_json",
            _gzip_decompress_utf8(F.try_to_binary(F.col("_trimmed"), F.lit("base64"))),
        )
        .filter(F.col("_json").isNotNull())
        .withColumn("doc", F.from_json(F.col("_json"), RAW_SCAN_DOCUMENT_SCHEMA))
        .filter(F.col("doc").isNotNull())
    )
    return decoded.select(
        "doc.*",
        F.input_file_name().alias("source_file"),
        # per-feed multiplexing identity (FeedProcessorFactory dispatch key)
        stream_name_expr(F.input_file_name()).alias("stream_name"),
    )
