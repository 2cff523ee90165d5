"""Streaming positioning: request JSON zone → positions, answered in the driver.

The reference serves positioning as a long-lived HTTP API
(`wifi-positioning-service`, PositioningController.java:30-49 →
PositioningServiceImpl.calculatePosition:168-190; SURVEY §3.2). The
Spark-first equivalent of "requests arrive continuously, answers leave
continuously" is Structured Streaming over a request zone:

    readStream.json(request_zone, POSITIONING_REQUEST_SCHEMA)
      .select(requestId, wifiScanResults)   (the bare request scan)
      → foreachBatch: toArrow → the one-pass kernel (physics gate, explode,
        join with the driver-held AP index, solve) → pyarrow write of
        batch_id=N

The streaming frame is the request scan alone: no filter, no explode, no
join, no Python and no coalesce, so each non-empty micro-batch is ONE Spark
job, the ``toArrow`` collect, and Catalyst has nothing to re-plan per
micro-batch. The rest runs in the driver, where a micro-batch of a few
requests costs the kernel's ~10 ms instead of a Python-worker hop (about
200 ms of fixed time per Python task on a 4-core host, whatever its input).
The kernel is the batch plan's (``make_onepass_kernel``), fed the same
nested request rows: one kernel, placed in the executors for batch and in
the driver for the stream, so the two placements give equal answers.

One micro-batch of 2 requests on a 4-core host (perfbench
``position_serving``, traced, median per phase over 7 runs) takes ~97 ms
(92-112 ms per run), under the 125 ms between its request files:
``latestOffset`` 4 ms (the zone listing), ``getBatch`` 7.5,
``queryPlanning`` 7, ``addBatch`` 75 (the ``toArrow`` call ~40-55, the
kernel ~10, the sink ~2, the rest Spark's foreachBatch hand-off to
Python), ``walCommit`` 2 and ``commitOffsets`` 2. Neither log write starts
a process: ``build_session``'s ``file://`` FileSystem sets file modes in
the JVM.

The AP index is ``onepass.ap_frame(access_points)`` (``known_ap_lookup``:
status filter, keep-first by version, rename — the analog of the service's
DynamoDB lookup path with its long-lived client), collected into the driver
once at stream start: the snapshot a cache at stream start would hold. The
driver-side kernel reads the frame itself, so a stream holds no broadcast
and a later batch call over a changed AP table cannot release its index.
Driver memory is bounded by that index plus one micro-batch of requests;
bound the latter with ``max_files_per_trigger``. The checkpoint logs go
through the FileSystem-based checkpoint manager ``build_session`` selects.

The file source lists the whole zone on every trigger, so answered request
files leave it: Spark's ``cleanSource=archive`` moves a committed batch's
files to ``<checkpoint>/archive/<their full path>`` when the next batch
starts. A batch that failed before its commit is replayed on restart from
files still in the zone, so every request is answered once.

The sink writes each batch to its own ``batch_id=N`` directory: it clears
the directory, writes ``part-00000.parquet``, and writes ``_SUCCESS`` last.
foreachBatch is at-least-once, and a replayed batch replaces the first
attempt's files, so the sink is effectively exactly-once; ``_SUCCESS`` means
the batch's answers are complete. An empty request file commits a batch with
an empty, schema'd part file. The per-request diagnostics
(``with_reasons``) ride along identically to the batch path.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery

from wifi_location_data_pipeline_spark.positioning.onepass import (
    answer_schema,
    ap_frame,
    selection_info_by_context,
)
from wifi_location_data_pipeline_spark.positioning.onepass_kernel import make_onepass_kernel
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
    # answered request files move to <checkpoint>/archive (module docstring):
    # a zone that kept them would grow the per-trigger listing without bound
    reader = (
        spark.readStream.schema(POSITIONING_REQUEST_SCHEMA)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", checkpoint.rstrip("/") + "/archive")
    )
    if max_files_per_trigger is not None:
        # bound the arrival batch (the analog of the reference's Kafka
        # max-poll / SQS batch limits), and with it the driver's share
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    requests = reader.json(request_zone).select("requestId", "wifiScanResults")

    schema = to_arrow_schema(answer_schema(with_reasons))
    kernel = make_onepass_kernel(
        ap_frame(access_points),
        selection_info_by_context(spark) if with_reasons else None,
        schema,
    )
    try:
        fs, root = pafs.FileSystem.from_uri(out_path)
    except pa.ArrowInvalid:  # a relative local path, as Spark's writer takes
        fs, root = pafs.LocalFileSystem(), os.path.abspath(out_path)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        table = pa.Table.from_batches(kernel([batch_df.toArrow()]), schema=schema)
        batch_dir = f"{root}/batch_id={batch_id}"
        fs.create_dir(batch_dir)
        fs.delete_dir_contents(batch_dir)  # a replay replaces the first attempt
        pq.write_table(table, f"{batch_dir}/part-00000.parquet", filesystem=fs)
        with fs.open_output_stream(f"{batch_dir}/_SUCCESS"):
            pass

    writer = (
        requests.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
