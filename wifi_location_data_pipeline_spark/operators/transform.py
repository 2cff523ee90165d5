"""The core ETL: raw scan documents → validated wifi_measurements rows.

Collapses the reference's transformer microservice
(wifi-measurements-transformer-service: SQS poll → S3 get → decode → validate
→ flatten → Firehose publish; SURVEY.md §3.1) into one declarative lineage:

    read raw lines → decode/parse → one generator over both tiers
    → derive columns → stage-1 filters → hotspot OUI action → dedup

All JVM-side except the gzip hop in the codec. The same function body serves
batch and streaming inputs (the plan is identical; only the source differs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.operators.dedup import dedup_measurements
from wifi_location_data_pipeline_spark.operators.flatten import flatten_tiers, with_derived_columns
from wifi_location_data_pipeline_spark.operators.hotspot import apply_oui_filter
from wifi_location_data_pipeline_spark.operators.validation import apply_stage1_filters
from wifi_location_data_pipeline_spark.schemas import WIFI_MEASUREMENTS_SCHEMA


def transform_documents(
    docs: DataFrame,
    *,
    batch_id: str = "batch-0",
    cfg: C.EngineConfig = C.DEFAULT_CONFIG,
    now_ms: Column | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Typed scan documents → wifi_measurements rows (validated, deduped)."""
    derived = with_derived_columns(flatten_tiers(docs), batch_id=batch_id)
    validated = apply_stage1_filters(derived, now_ms=now_ms, cfg=cfg)
    filtered = apply_oui_filter(validated, cfg.hotspot_ouis, cfg.hotspot_action)
    return dedup_measurements(filtered) if dedup else filtered


def conform_to_measurements_schema(df: DataFrame) -> DataFrame:
    """Project/cast to the canonical 45-column wifi_measurements layout,
    adding NULLs for columns the transform does not populate (outlier flags)."""
    out = []
    for f in WIFI_MEASUREMENTS_SCHEMA.fields:
        if f.name in df.columns:
            out.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*out)


def write_measurements(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append to the day-partitioned measurements table
    (SCHEMA.md:70: partitioned by day(ingestion_timestamp); 128 MB target files).

    Parquet stand-in for the lakehouse table — partition layout and pruning
    behavior are identical; row-level DML is emulated in operators.table_dml.
    """
    (
        conform_to_measurements_schema(df)
        .withColumn("ingestion_date", F.to_date("ingestion_timestamp"))
        .write.mode(mode)
        .partitionBy("ingestion_date")
        .parquet(path)
    )
