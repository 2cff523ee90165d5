"""Streaming positioning: request JSON zone → positions, one plan per stream.

The reference serves positioning as a long-lived HTTP API
(`wifi-positioning-service`, PositioningController.java:30-49 →
PositioningServiceImpl.calculatePosition:168-190; SURVEY §3.2). The
Spark-first equivalent of "requests arrive continuously, answers leave
continuously" is Structured Streaming over a request zone:

    readStream.json(request_zone, POSITIONING_REQUEST_SCHEMA)
      → position_requests_from_lookup ⋈ broadcast(cached AP lookup)
        (applied ONCE, to the streaming DataFrame)
      → foreachBatch: per-batch_id overwrite sink (idempotent under
        foreachBatch's at-least-once replay ⇒ effectively exactly-once)

The one-pass plan is shuffle-free (positioning/onepass.py): filter,
generate, the stream-static broadcast join, project and MapInPandas are all
stateless, so the stream plans it as a continuous query and the driver
builds no Python plan per micro-batch. The AP lookup (status filter,
keep-first by version, rename — the analog of the service's DynamoDB lookup
path with its long-lived client) is prepared and cached once at stream
start, so its window shuffle never runs per batch. A micro-batch is then two
Spark jobs: the AP broadcast, and one scan → kernel → write stage, run as a
single task. An empty request file commits a batch with no answers. The
per-request diagnostics (``with_reasons``) ride along identically to the
batch path.

Why the plan keeps exactly ONE Python stage: on a 4-core host each Python
stage costs about 200 ms of fixed time, whatever its input. An identity
mapInPandas over 28 rows in one task takes ≈400 ms to a parquet sink where
the same job without it takes ≈160 ms (≈220 vs ≈40 ms to the noop sink);
the Python worker spends ~150–200 ms in ``setup_spark_files`` waiting for
the JVM's task header. ``spark.python.worker.reuse``, unix-domain sockets
and the Arrow buffer size did not change this. So the kernel packs, solves
and combines in the one stage; splitting any phase into its own Python
stage would add that floor to every micro-batch. The same floor is paid per
task, so the stage runs as one task: on the serving benchmark (4 cores,
seeds 13–15) that lowered p50 latency from 958/1300/1317 ms with the file
source's ~4 tasks per micro-batch to 752/977/1143 ms. The cost lands on
large micro-batches (a backfill drain): 20 000 requests position in ≈2.2 s
in one task against ≈1.7 s in four.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from wifi_location_data_pipeline_spark.positioning.onepass import (
    position_requests_from_lookup,
)
from wifi_location_data_pipeline_spark.positioning.prepare import known_ap_lookup
from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA


def start_positioning_stream(
    spark: SparkSession,
    request_zone: str,
    access_points: DataFrame,
    out_path: str,
    checkpoint: str,
    with_reasons: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Answer positioning requests from a streaming file zone.

    ``available_now=True`` drains the zone and stops (backfill / test mode);
    ``False`` runs continuously with the default trigger — new request files
    are answered in the next micro-batch, the streaming analog of the
    service's request loop.
    """
    reader = spark.readStream.schema(POSITIONING_REQUEST_SCHEMA)
    if max_files_per_trigger is not None:
        # bound the arrival batch (the analog of the reference's Kafka
        # max-poll / SQS batch limits); also gives the latency bench one
        # micro-batch per request file
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # one task per micro-batch: a serving batch holds far less kernel work
    # than one Python task's fixed cost (module docstring), and the file
    # source would split even a few small files into ~one task per core.
    # coalesce is narrow, so the plan stays shuffle-free and stateless.
    requests = reader.json(request_zone).coalesce(1)

    ap_lookup = known_ap_lookup(access_points).cache()
    ap_lookup.count()  # materialize now, not in the first micro-batch
    answers = position_requests_from_lookup(requests, ap_lookup, with_reasons=with_reasons)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-once: a batch that fails after the
        # write but before the checkpoint commit REPLAYS. Writing each
        # batch to its own batch_id=N partition directory with overwrite
        # makes the replay idempotent — the second attempt replaces the
        # first attempt's files instead of appending duplicates, so the
        # sink as a whole is effectively exactly-once.
        batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    writer = (
        answers.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
