"""Streaming positioning: request JSON zone → positions, answered in the driver.

The reference serves positioning as a long-lived HTTP API
(`wifi-positioning-service`, PositioningController.java:30-49 →
PositioningServiceImpl.calculatePosition:168-190; SURVEY §3.2). The
Spark-first equivalent of "requests arrive continuously, answers leave
continuously" is Structured Streaming over a request zone:

    readStream.json(request_zone, POSITIONING_REQUEST_SCHEMA)
      .select(requestId, wifiScanResults)   (the bare request scan)
      → BatchFileSink (jvm/BatchFileSink.java): the batch's request file
        URIs → py4j callback → the files, read in the driver → the one-pass
        kernel (physics gate, explode, join with the driver-held AP index,
        solve) → pyarrow write of batch_id=N

The streaming frame is the request scan alone (no filter, no explode, no
join, no Python, no coalesce), and a micro-batch runs no Spark job: Spark
keeps the offsets, the driver reads the files. Spark's file source lists
the zone, logs each batch's files, replays them after a failure, applies
``maxFilesPerTrigger`` and archives them. The sink is a small Java
``StreamSinkProvider`` in the session's jar: its ``addBatch`` takes the
batch's files from the scan node (the one leaf of the batch's executed
plan, ``relation().location().inputFiles()``), never builds the batch's
RDD, and calls ``_commit`` in Python with the batch id, the files and the
batch frame. ``_commit`` reads the files with pyarrow's JSON reader, one
file per thread, up to the session's cores. The read is strict: the
request schema as explicit Arrow types, fields outside it skipped,
anything else raising (malformed JSON, a value of another type, a missing
``requestId``, a line that is not exactly one JSON object, bytes that are
not UTF-8, an empty file). A batch whose read raises is read by Spark
instead, ``toArrow`` on the batch frame (one Spark job), so Spark's
PERMISSIVE reader gives the meaning of every file the strict read
rejects; where both read a file, they give the same rows. The scan never
runs after a strict read, so ``_commit`` returns the rows it read and the
sink adds them to the scan's ``numOutputRows`` metric, the figure
``StreamingQueryProgress.numInputRows`` reports; after Spark's read it
returns -1 and the scan has counted its own rows.

The sink's ``createSink`` gets string options only, so the callback goes
through a static registry in the JVM under a ``callback`` option: it is
registered before ``start()`` and released when ``start()`` returns or
raises. Spark creates the sink inside ``start()``, and the sink holds the
callback for the life of its query, so a running, stopped or failed
stream leaves no registry entry, and streams running at once each call
their own callback.

The rest runs in the driver too, where a micro-batch of a few requests
costs the kernel's ~5-10 ms instead of a Python-worker hop (about 200 ms of
fixed time per Python task on a 4-core host, whatever its input). The
kernel is the batch plan's (``make_onepass_kernel``), fed the same nested
request rows: one kernel, placed in the executors for batch and in the
driver for the stream, so the two placements give equal answers.

One micro-batch of 2 requests on a 4-core host (perfbench
``position_serving``, traced, median per phase) takes ~40 ms, a third of
the 125 ms between its request files: ``latestOffset`` 4 ms (the zone
listing), ``getBatch`` 6, ``queryPlanning`` 6, ``addBatch`` 18-19,
``walCommit`` 3 and ``commitOffsets`` 2. Of ``addBatch``, the Python
callback is ~9 ms (the file read ~2, the kernel and the parquet write the
rest); the rest is Spark's SQL execution around the sink and the py4j
call. The sink is here rather than PySpark's per-batch function hand-off
because that hand-off costs ~20 ms more per batch: Spark builds the batch
frame's RDD (the JSON reader and a broadcast configuration) and wraps it
in a Dataset, and PySpark wraps each call's session in a new
``SparkSession``, though nothing here reads that RDD. Neither log write
starts a process: ``build_session``'s ``file://`` FileSystem sets file
modes in the JVM.

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

``_commit`` writes each batch to its own ``batch_id=N`` directory: it
clears the directory, writes ``part-00000.parquet``, and writes
``_SUCCESS`` last. A V1 sink's ``addBatch`` is at-least-once (a batch that
failed before its commit is replayed under the same id), and a replayed
batch replaces the first attempt's files, so the sink is effectively
exactly-once; ``_SUCCESS`` means the batch's answers are complete. An
empty request file commits a batch with an empty, schema'd part file. The
per-request diagnostics (``with_reasons``) come, as in the batch path, from
the kernel's one selection table (``onepass_kernel.selection_table``): each
answer's ``selection_info`` explains the selection its ``calculation_info``
lists.
"""

from __future__ import annotations

import codecs
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.json as pajson
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from py4j.java_gateway import JavaClass
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery

from wifi_location_data_pipeline_spark.positioning.onepass import answer_schema, ap_frame
from wifi_location_data_pipeline_spark.positioning.onepass_kernel import make_onepass_kernel
from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA
from wifi_location_data_pipeline_spark.session import BATCH_FILE_SINK_CLASS

# the driver's strict reading of a request file (module docstring): the
# request schema as Arrow types, no inference, fields outside it skipped
_STRICT_REQUEST_JSON = pajson.ParseOptions(
    explicit_schema=to_arrow_schema(POSITIONING_REQUEST_SCHEMA),
    unexpected_field_behavior="ignore",
)


def read_request_files(uris: list[str], threads: int = 1) -> pa.Table:
    """The requests (``requestId``, ``wifiScanResults``) of the request
    files at ``uris`` (Hadoop file URIs), read strictly, one file per
    thread. Raises ``pyarrow.ArrowInvalid`` or ``UnicodeDecodeError`` on a
    file whose rows Spark's reader could differ on or would have to repair
    (malformed JSON, a value of another type, a missing ``requestId``, a
    line that is not one JSON object, bytes that are not UTF-8, an empty
    file), and ``OSError`` on a file pyarrow cannot open."""
    with ThreadPoolExecutor(max(1, min(threads, len(uris)))) as pool:
        tables = list(pool.map(_read_request_file, uris))
    return pa.concat_tables(tables).select(["requestId", "wifiScanResults"])


def _read_request_file(uri: str) -> pa.Table:
    fs, path = pafs.FileSystem.from_uri(uri)
    with fs.open_input_stream(path) as f:
        data = f.read().removeprefix(codecs.BOM_UTF8)  # Hadoop's line reader drops it
    data.decode("utf-8")  # pyarrow passes on bytes Spark's parser rejects
    # Spark parses each line (split at \n, \r\n or \r) as one record, pyarrow
    # the whole file. They see the same objects when every non-blank line
    # starts with "{", ends with "}" and pyarrow finds as many objects as
    # lines: no string spans a line, so no object continues past one. The
    # check comes first: pyarrow 16 crashes the process on a leading `null`.
    records = [line for line in (ln.strip(b" \t") for ln in data.splitlines()) if line]
    if not all(r[:1] == b"{" and r[-1:] == b"}" for r in records):
        raise pa.ArrowInvalid(f"{uri}: a line that is not one JSON object")
    table = pajson.read_json(pa.BufferReader(data), parse_options=_STRICT_REQUEST_JSON)
    if table.num_rows != len(records):
        raise pa.ArrowInvalid(f"{uri}: {table.num_rows} JSON objects on {len(records)} lines")
    return table


class _BatchCallback:
    """The Python side of the sink's ``BatchFileSink.Callback`` interface:
    the JVM calls ``call`` over py4j, on a callback-server thread, once per
    micro-batch, with the batch's request file URIs and the batch frame."""

    def __init__(self, commit):
        self._commit = commit

    def call(self, batch_id: int, files, jdf) -> int:
        return self._commit(batch_id, list(files), jdf)

    class Java:
        implements = [BATCH_FILE_SINK_CLASS + "$Callback"]


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
    kernel = make_onepass_kernel(ap_frame(access_points), with_reasons, schema)
    try:
        fs, root = pafs.FileSystem.from_uri(out_path)
    except pa.ArrowInvalid:  # a relative local path, as Spark's writer takes
        fs, root = pafs.LocalFileSystem(), os.path.abspath(out_path)

    threads = spark.sparkContext.defaultParallelism

    def _commit(batch_id: int, uris: list[str], jdf) -> int:
        """Answer one micro-batch; the rows read from its files, or -1 when
        the batch frame was run (its scan then counted its own rows)."""
        try:
            batch = read_request_files(uris, threads)
            rows = batch.num_rows  # the sink adds them to the scan's numOutputRows
        except (pa.ArrowInvalid, UnicodeDecodeError, OSError):
            batch = DataFrame(jdf, spark).toArrow()  # Spark's PERMISSIVE reader decides
            rows = -1
        table = pa.Table.from_batches(kernel([batch]), schema=schema)
        batch_dir = f"{root}/batch_id={batch_id}"
        fs.create_dir(batch_dir)
        fs.delete_dir_contents(batch_dir)  # a replay replaces the first attempt
        pq.write_table(table, f"{batch_dir}/part-00000.parquet", filesystem=fs)
        with fs.open_output_stream(f"{batch_dir}/_SUCCESS"):
            pass
        return rows

    # createSink, which runs inside start(), takes the callback from the
    # sink's registry; the sink holds it from then on
    gateway = spark.sparkContext._gateway
    ensure_callback_server_started(gateway)
    sink = JavaClass(BATCH_FILE_SINK_CLASS, gateway._gateway_client)
    callback_id = sink.register(_BatchCallback(_commit))
    writer = (
        requests.writeStream.format(BATCH_FILE_SINK_CLASS)
        .option("callback", callback_id)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    try:
        return writer.start()
    finally:
        sink.release(callback_id)
