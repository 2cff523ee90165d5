"""Streaming ingest + stateful AP refinement, driven synchronously with
availableNow/processAllAvailable (SURVEY §2.8; memory-sink smoke pattern)."""

import base64
import gc
import gzip
import os
import re
import shutil
import time

import pytest
from pyspark.sql import functions as F

from tests.wifi_fixtures import documents_as_json_lines, make_documents
from wifi_location_data_pipeline_spark.streaming.ingest import start_ingest
from wifi_location_data_pipeline_spark.streaming.state import streaming_ap_state


@pytest.fixture()
def tmpzone(tmp_path):
    return str(tmp_path)


def _write_raw(zone, name, lines):
    with open(os.path.join(zone, name), "w") as f:
        for line in lines:
            f.write(base64.b64encode(gzip.compress(line.encode(), mtime=0)).decode() + "\n")


def test_streaming_ingest_end_to_end(spark, tmpzone):
    raw = os.path.join(tmpzone, "raw"); os.makedirs(raw)
    out = os.path.join(tmpzone, "table")
    ckpt = os.path.join(tmpzone, "ckpt")
    lines = documents_as_json_lines(make_documents(n_docs=12))
    _write_raw(raw, "a.txt", lines[:6])
    _write_raw(raw, "b.txt", lines[6:])

    q = start_ingest(spark, raw, out, ckpt, available_now=True)
    q.awaitTermination(120)
    table = spark.read.parquet(out)
    n1 = table.count()
    assert n1 > 0
    assert table.filter(F.col("bssid").isNull()).count() == 0

    # incremental: a new file arriving is processed exactly once. Timestamps
    # must advance past the restored watermark or the rows are (correctly)
    # discarded as late — shift the new batch +2 days.
    shift = 2 * 86_400_000
    new_docs = make_documents(n_docs=3, seed=7)[:3]  # drop edge-case docs (dup event ids)
    for d in new_docs:
        for ev in d["wifiConnectedEvents"]:
            ev["timestamp"] += shift
            ev["location"]["time"] += shift
        for sr in d["scanResults"]:
            sr["timestamp"] += shift
            sr["location"]["time"] += shift
            for r in sr["results"]:
                r["scantime"] += shift
    _write_raw(raw, "c.txt", documents_as_json_lines(new_docs))
    q2 = start_ingest(spark, raw, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out).count()
    assert n2 > n1

    # re-running with the same checkpoint and no new data adds nothing (exactly-once)
    q3 = start_ingest(spark, raw, out, ckpt, available_now=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == n2


def test_streaming_ap_state_kalman(spark, tmpzone):
    src = os.path.join(tmpzone, "estimates"); os.makedirs(src)
    ckpt = os.path.join(tmpzone, "ckpt2")
    est1 = spark.createDataFrame(
        [("ap1", 40.0, -74.0, 10.0, 1), ("ap1", 40.0002, -74.0002, 10.0, 2),
         ("ap2", 41.0, -75.0, 5.0, 1)],
        "bssid string, latitude double, longitude double, horizontal_accuracy double, batch_ts int",
    )
    est1.write.parquet(os.path.join(src, "batch1"))

    stream = (
        spark.readStream.schema(est1.schema).parquet(src + "/*")
    )
    refined = streaming_ap_state(stream)
    q = (
        refined.writeStream.outputMode("append").format("memory")
        .queryName("ap_state_out").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        rows = {r["bssid"]: r for r in spark.sql("select * from ap_state_out").collect()}
        assert rows["ap1"]["n_updates"] == 2
        assert 40.0 < rows["ap1"]["latitude"] < 40.0002      # fused between the two
        assert rows["ap1"]["p_var_m2"] < 100.0               # variance contracted
        assert rows["ap2"]["n_updates"] == 1
        assert not rows["ap1"]["relocated"]
    finally:
        q.stop()


def test_kafka_reader_option_wiring():
    """No broker/jar in the sandbox: assert the source options match the
    reference consumer's poll contract (application.yml:96)."""
    from wifi_location_data_pipeline_spark.streaming.ingest import kafka_reader_options

    opts = kafka_reader_options("broker-1:9092,broker-2:9092", "wifi-scans")
    assert opts == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        "subscribe": "wifi-scans",
        "maxOffsetsPerTrigger": "150",
    }
    assert kafka_reader_options("b:9092", "t", 500)["maxOffsetsPerTrigger"] == "500"


def test_session_window_stream_twin(spark, tmpzone):
    """The session_window expression used by the batch `session_window_agg`
    query runs unchanged under readStream + watermark: stream a slice of
    the events table through availableNow and compare the finalized
    sessions to the batch computation on the same slice (docstring claim
    in plans.queries._session_window_fn, substantiated)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")
    src = os.path.join(tmpzone, "events_slice")
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC so
    # the cast is value-preserving
    batch_events = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .filter(F.col("user_id") < 4)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    )
    batch_events.write.parquet(src)

    agg = lambda df: (  # noqa: E731 — the ONE expression both modes share
        df.groupBy("user_id", F.session_window("ts", "4 hours").alias("w")).agg(
            F.count("*").alias("n_events"),
            (F.floor(F.sum("value") * 10000.0 + 0.5) / 10000.0).alias("total_value"),
        )
    )

    stream = (
        spark.readStream.schema(batch_events.schema)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    q = (
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_twin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, str(r.w.start), str(r.w.end), r.n_events, r.total_value)
        for r in df.collect()
    )
    got = canon(spark.sql("SELECT * FROM sess_twin"))
    want = canon(agg(batch_events))
    assert got == want and len(got) > 0


def test_streaming_positioning_answers_requests(spark, tmpzone):
    """§3.2 online positioning as a streaming job: requests land as JSON
    files, each micro-batch answers them through the REAL one-pass kernel
    against the stream's AP index, commits append-exactly-once, and a
    re-run with the same checkpoint adds nothing."""
    import json

    from tests.wifi_fixtures import make_access_points
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone = os.path.join(tmpzone, "reqs"); os.makedirs(zone)
    out = os.path.join(tmpzone, "positions")
    ckpt = os.path.join(tmpzone, "pos_ckpt")
    aps = spark.createDataFrame(make_access_points(), WIFI_ACCESS_POINTS_SCHEMA)
    macs = [
        r["mac_addr"]
        for r in aps.filter(F.col("status") == "active").limit(3).collect()
    ]

    def req(rid, n):
        return {
            "requestId": rid, "client": "stream", "application": "test",
            "calculationDetail": True,
            "wifiScanResults": [
                {"macAddress": m, "signalStrength": -60.0 - 3 * i,
                 "frequency": 2437, "ssid": "t", "linkSpeed": None,
                 "channelWidth": None}
                for i, m in enumerate(macs[:n])
            ],
        }

    with open(os.path.join(zone, "batch1.json"), "w") as f:
        f.write(json.dumps(req("s1", 1)) + "\n" + json.dumps(req("s2", 2)) + "\n")

    q = start_positioning_stream(spark, zone, aps, out, ckpt, with_reasons=True)
    q.awaitTermination(120)
    first = {r["request_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(first) == {"s1", "s2"}
    assert first["s1"]["selection_context"]["ap_count_class"] == "SINGLE_AP"
    assert any(e["selected"] for e in first["s1"]["selection_info"])

    # a new request file is answered incrementally, exactly once
    with open(os.path.join(zone, "batch2.json"), "w") as f:
        f.write(json.dumps(req("s3", 3)) + "\n")
    q2 = start_positioning_stream(spark, zone, aps, out, ckpt, with_reasons=True)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["request_id"] for r in rows) == ["s1", "s2", "s3"]

    q3 = start_positioning_stream(spark, zone, aps, out, ckpt, with_reasons=True)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def _positioning_fixture(spark, tmpzone):
    """(zone, out, ckpt, aps, write_requests) for the serving-shape tests;
    ``write_requests(name, rids)`` lands one request file atomically."""
    import json

    from tests.wifi_fixtures import make_access_points
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA

    zone, staging = os.path.join(tmpzone, "reqs"), os.path.join(tmpzone, "staging")
    os.makedirs(zone)
    os.makedirs(staging)
    aps = spark.createDataFrame(make_access_points(), WIFI_ACCESS_POINTS_SCHEMA)
    macs = [r["mac_addr"] for r in aps.filter(F.col("status") == "active").limit(3).collect()]

    def write_requests(name, rids):
        path = os.path.join(staging, name)
        with open(path, "w") as f:
            for rid in rids:
                f.write(json.dumps({
                    "requestId": rid, "client": "stream", "application": "test",
                    "calculationDetail": False,
                    "wifiScanResults": [
                        {"macAddress": m, "signalStrength": -60.0 - 3 * i,
                         "frequency": 2437, "ssid": "t", "linkSpeed": None,
                         "channelWidth": None}
                        for i, m in enumerate(macs)
                    ],
                }) + "\n")
        os.replace(path, os.path.join(zone, name))

    out, ckpt = os.path.join(tmpzone, "positions"), os.path.join(tmpzone, "pos_ckpt")
    return zone, out, ckpt, aps, write_requests


def test_stream_keeps_its_ap_index_across_batch_calls(spark, tmpzone):
    """A running stream holds its own AP-index frame, no broadcast: batch
    positioning calls over changed AP content, which replace the context's
    AP-index broadcast, leave the stream answering from the index it
    started with."""
    from wifi_location_data_pipeline_spark.positioning.onepass import (
        position_requests_onepass,
    )
    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    try:
        requests = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(zone)
        for k in (1, 2):  # before the stream's first batch reads its index
            moved = aps.withColumn("latitude", F.col("latitude") + 0.01 * k)
            position_requests_onepass(requests, moved).collect()
        write_requests("req0.json", ["r0"])
        q.processAllAvailable()
    finally:
        q.stop()
    [streamed] = spark.read.parquet(out).collect()
    requests = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(zone)
    [batch] = position_requests_onepass(requests, aps).collect()
    assert streamed["request_id"] == batch["request_id"] == "r0"
    assert (streamed["latitude"], streamed["longitude"]) == (
        batch["latitude"], batch["longitude"])


def test_checkpoint_logs_use_filesystem_manager(spark, tmp_path):
    """build_session routes streaming checkpoint logs (offsets, commits)
    through Spark's FileSystem-based checkpoint manager, not the default
    FileContext one: the manager Spark builds for a checkpoint path is
    FileSystemBasedCheckpointFileManager, and the FileSystem under a
    ``file://`` checkpoint is the session's shim, which sets modes without
    a forked chmod."""
    from wifi_location_data_pipeline_spark.session import NIO_FS_CLASS

    jvm = spark._jvm
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing"
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")), hconf)
    assert manager.getClass().getName() == f"{pkg}.FileSystemBasedCheckpointFileManager"
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert fs.getClass().getName() == NIO_FS_CLASS


def _settle_artifact_cleaner(spark, dump_path, timeout_s=60.0):
    """Return once a full collection in Python and the JVM is followed by
    0.5 s in which the JVM starts no process. Earlier queries leave their
    cloned sessions behind; when the JVM collects one, Spark's artifact
    cleaner (a thread run after the collection) deletes the session's
    artifact directory with a forked ``rm -rf``, whether it exists or not.
    A quiet window after a full collection means the cleaner has nothing
    left to delete. Fails after ``timeout_s``."""
    from tests.jvm_events import process_starts

    deadline = time.monotonic() + timeout_s
    seen = []
    while time.monotonic() < deadline:
        gc.collect()
        with process_starts(spark, dump_path) as started:
            spark._jvm.System.gc()
            time.sleep(0.5)
        if not started:
            return
        seen += started
    pytest.fail(f"the JVM kept starting processes after collections: {seen}")


def test_positioning_micro_batches_start_no_process(spark, tmpzone):
    """A serving micro-batch writes six files through Hadoop (the offset,
    commit and file-source log entries, each with its .crc); JFR sees no
    child process started over three of them (Hadoop's own local
    FileSystem forks a chmod for each file it creates)."""
    from tests.jvm_events import process_starts
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    try:
        write_requests("req0.json", ["w0"])  # first batch: stream start-up
        q.processAllAvailable()
        # once per JVM, the executor's first metrics poll (a heartbeat, every
        # 10 s) runs `getconf PAGESIZE`; take that one-off before recording
        spark._jvm.org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo()
        _settle_artifact_cleaner(spark, os.path.join(tmpzone, "settle.jfr"))
        with process_starts(spark, os.path.join(tmpzone, "rec.jfr")) as started:
            for k in range(1, 4):
                write_requests(f"req{k}.json", [f"r{k}"])
                q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert len(batches) == 4
    assert started == []
    assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == [
        "r1", "r2", "r3", "w0"]


def _sink_callbacks(spark):
    """How many callbacks the positioning stream's sink registry holds."""
    from py4j.java_gateway import JavaClass

    from wifi_location_data_pipeline_spark.session import BATCH_FILE_SINK_CLASS

    return JavaClass(BATCH_FILE_SINK_CLASS, spark.sparkContext._gateway._gateway_client).registered()


def test_stream_callbacks_leave_the_sink_registry(spark, tmpzone):
    """The sink's registry holds a stream's callback only while ``start()``
    runs (the sink takes it when Spark creates the sink): not while the
    stream runs, not after it stops, and not after a ``start()`` that
    raised. The replay tests check the same after a failed stream."""
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    try:
        assert _sink_callbacks(spark) == 0
        write_requests("req0.json", ["r0"])
        q.processAllAvailable()
    finally:
        q.stop()
    assert _sink_callbacks(spark) == 0
    assert [r["request_id"] for r in spark.read.parquet(out).collect()] == ["r0"]

    blocked = os.path.join(tmpzone, "not_a_dir")
    open(blocked, "w").close()
    with pytest.raises(Exception, match="not a directory"):
        start_positioning_stream(spark, zone, aps, out, os.path.join(blocked, "ckpt"))
    assert _sink_callbacks(spark) == 0


def test_two_streams_in_one_session_answer_their_own_zones(spark, tmpzone):
    """Two positioning streams running at once in one session each answer
    only their own zone's requests and count only their own rows, with no
    Spark job: each sink hands its batches to its own callback."""
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    streams = {}
    for name in ("a", "b"):
        zone, out, ckpt, aps, write_requests = _positioning_fixture(
            spark, os.path.join(tmpzone, name))
        q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
        streams[name] = (q, out, write_requests)
    try:
        for k in range(4):  # both zones fill while both streams run
            for name, (_q, _out, write_requests) in streams.items():
                write_requests(f"req{k}.json", [f"{name}{k}x", f"{name}{k}y"][: 1 + k % 2])
        for q, _out, _w in streams.values():
            q.processAllAvailable()
    finally:
        for q, _out, _w in streams.values():
            q.stop()
    for name, (q, out, _w) in streams.items():
        want = sorted(f"{name}{k}{c}" for k in range(4) for c in "xy"[: 1 + k % 2])
        assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == want
        assert sum(p["numInputRows"] for p in q.recentProgress) == len(want)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)) == []
    assert _sink_callbacks(spark) == 0


def _archived(ckpt, zone):
    """Names of the request files the stream archived out of ``zone``."""
    root = os.path.join(ckpt, "archive") + os.path.abspath(zone)
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def _log_entries(ckpt, log):
    """Batch ids of a checkpoint log (its .crc files aside)."""
    return sorted(n for n in os.listdir(os.path.join(ckpt, log)) if not n.startswith("."))


def _wait_for(cond, timeout_s=30.0):
    deadline = time.monotonic() + timeout_s
    while not cond() and time.monotonic() < deadline:
        time.sleep(0.05)
    return cond()


def test_stream_archives_answered_request_files(spark, tmpzone):
    """The file source archives a batch's request files once the next batch
    starts after its commit (so the zone it lists holds the unanswered
    files, at most one batch's answered ones); the archive lives under the
    checkpoint."""
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    try:
        for k in range(3):
            write_requests(f"req{k}.json", [f"r{k}a", f"r{k}b"])
            q.processAllAvailable()
        assert _wait_for(lambda: _archived(ckpt, zone) == ["req0.json", "req1.json"])
    finally:
        q.stop()
    assert sorted(os.listdir(zone)) == ["req2.json"]
    assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == sorted(
        f"r{k}{c}" for k in range(3) for c in "ab")


def test_stream_replays_an_uncommitted_batch_from_the_zone(spark, tmpzone, monkeypatch):
    """A batch that fails after its offsets were logged is replayed on
    restart: its request files are still in the zone (only committed
    batches' files are archived), and every request is answered exactly
    once."""
    import pyarrow.parquet as pq

    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    write_requests("a.json", ["a1", "a2"])
    os.utime(os.path.join(zone, "a.json"), (1, 1))  # oldest: batch 0
    write_requests("b.json", ["b1", "b2"])
    write_table = pq.write_table

    def fail_batch_1(table, where, **kw):
        if "batch_id=1" in where:
            raise RuntimeError("sink down")
        return write_table(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", fail_batch_1)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
    assert _sink_callbacks(spark) == 0
    assert _log_entries(ckpt, "offsets") == ["0", "1"]
    assert _log_entries(ckpt, "commits") == ["0"]
    assert _wait_for(lambda: _archived(ckpt, zone) == ["a.json"])
    assert sorted(os.listdir(zone)) == ["b.json"]

    monkeypatch.setattr(pq, "write_table", write_table)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None
    assert _log_entries(ckpt, "commits") == ["0", "1"]
    answers = sorted(r["request_id"] for r in spark.read.parquet(out).collect())
    assert answers == ["a1", "a2", "b1", "b2"]


def test_streaming_positioning_runs_no_spark_job(spark, tmpzone, capsys):
    """The streaming frame is the bare request scan and each micro-batch is
    answered in the driver (its request files read there, then gate,
    explode, AP join and solve in the one kernel), so a micro-batch of
    well-formed files runs NO Spark job and its plan holds no Python node,
    no Generate and no Filter. Counted under the stream's runId job
    group."""
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    try:
        for k in range(3):
            write_requests(f"req{k}.json", [f"r{k}a", f"r{k}b"])
            q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"]]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        capsys.readouterr()
        q.explain()  # the last micro-batch's physical plan
        plan = capsys.readouterr().out
    finally:
        q.stop()
    assert len(batches) == 3
    assert len(jobs) == 0, sorted(jobs)
    assert "FileScan json" in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    nodes = set(re.findall(r"^[ :+\-*()\d]*([A-Z]\w*)", plan, re.M))
    assert "FileScan" in nodes and not {"Generate", "Filter"} & nodes, plan
    rows = spark.read.parquet(out).collect()
    assert sorted(r["request_id"] for r in rows) == sorted(
        f"r{k}{c}" for k in range(3) for c in "ab")



def _request_line(rid, scans='[{"macAddress": "aa:bb", "signalStrength": -70.5, "frequency": 2437}]'):
    return '{"requestId": "%s", "wifiScanResults": %s}' % (rid, scans)


# one request file per case: the driver's strict read must equal Spark's
# reader row for row ("equal") or raise ("raises", the batch then goes
# through Spark's reader)
_EDGE_FILES = {
    "missing_request_id": ('{"wifiScanResults": []}\n', "raises"),
    "null_request_id": ('{"requestId": null, "wifiScanResults": []}\n', "raises"),
    "blank_lines": ("\n" + _request_line("a") + "\n\n  \n" + _request_line("b") + "\n\n", "equal"),
    "crlf": (_request_line("a") + "\r\n" + _request_line("b") + "\r\n", "equal"),
    "cr_only": (_request_line("a") + "\r" + _request_line("b") + "\r", "equal"),
    "bom": ("\ufeff" + _request_line("a") + "\n", "equal"),
    "no_trailing_newline": (_request_line("a"), "equal"),
    "empty_file": ("", "raises"),
    "exponent_for_int": (_request_line("a").replace("2437", "2.412e3") + "\n", "raises"),
    "string_for_double": (_request_line("a").replace("-70.5", '"-70"') + "\n", "raises"),
    "int_overflow": (_request_line("a").replace("2437", "3000000000") + "\n", "raises"),
    "number_for_string": ('{"requestId": 123, "wifiScanResults": []}\n', "raises"),
    "garbage_line": ("!!!garbage\n", "raises"),
    "good_then_bad": (_request_line("a") + "\n" + '{"requestId": "b", "wifiScanResults": [}\n', "raises"),
    "unicode_escape": (_request_line("caf\\u00e9") + "\n" + _request_line("caf\u00e9") + "\n", "equal"),
    "null_array": (_request_line("a", "null") + "\n", "equal"),
    "empty_array": (_request_line("a", "[]") + "\n", "equal"),
    "null_element": (_request_line("a", '[null, {"macAddress": "m", "frequency": 5180}]') + "\n", "equal"),
    "extra_fields": ('{"requestId": "a", "x": {"y": [1, 2]}, "wifiScanResults": '
                     '[{"macAddress": "m", "rssi": -1}]}\n', "equal"),
    "single_quotes": ("{'requestId': 'a', 'wifiScanResults': []}\n", "raises"),
    "top_level_array": ('[{"requestId": "a"}, {"requestId": "b"}]\n', "raises"),
    "scalar_line": ("42\n", "raises"),
    "duplicate_key": ('{"requestId": "a", "requestId": "b", "wifiScanResults": []}\n', "raises"),
    "two_objects_on_a_line": (_request_line("a") + " " + _request_line("b") + "\n", "raises"),
    "object_across_lines": ('{"requestId": "a", "wifiScanResults": [\n{"macAddress": "m"}]}\n', "raises"),
    "trailing_garbage": (_request_line("a") + " xyz\n", "raises"),
    "leading_null": ("null\n" + _request_line("a") + "\n", "raises"),
    "control_char_in_string": (_request_line("a\tb") + "\n", "raises"),
    "not_utf8": (_request_line("a\udcffb") + "\n", "raises"),  # the byte 0xff
}


@pytest.mark.parametrize("case", sorted(_EDGE_FILES))
def test_driver_request_read_matches_spark_or_raises(spark, tmp_path, case):
    """``read_request_files`` is the stream's reader for well-formed request
    files only: on each edge file it returns exactly the rows Spark's JSON
    reader returns for it, or it raises (and the stream's micro-batch reads
    the file through Spark instead)."""
    import pyarrow as pa

    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA
    from wifi_location_data_pipeline_spark.streaming.positioning import read_request_files

    text, expect = _EDGE_FILES[case]
    path = tmp_path / f"{case}.json"
    path.write_bytes(text.encode("utf-8", "surrogateescape"))
    want = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(str(path)) \
        .select("requestId", "wifiScanResults").toArrow().to_pylist()
    if expect == "raises":
        with pytest.raises((pa.ArrowInvalid, UnicodeDecodeError)):
            read_request_files([path.as_uri()])
    else:
        assert read_request_files([path.as_uri()]).to_pylist() == want
        assert want


def test_stream_progress_counts_the_rows_it_read(spark, tmpzone, monkeypatch):
    """numInputRows stays Spark's progress figure though the driver reads
    the files: the rows read for a first batch, 0 for an empty file (read
    by Spark: the strict read rejects it) and the rows of a batch replayed
    after a failed commit."""
    import pyarrow.parquet as pq

    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    for t, (name, rids) in enumerate([("a.json", ["a1", "a2"]), ("b.json", []),
                                      ("c.json", ["c1", "c2", "c3"])]):
        write_requests(name, rids)
        os.utime(os.path.join(zone, name), (t + 1, t + 1))  # batch order a, b, c
    write_table = pq.write_table

    def fail_batch_2(table, where, **kw):
        if "batch_id=2" in where:
            raise RuntimeError("sink down")
        return write_table(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", fail_batch_2)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
    assert _sink_callbacks(spark) == 0
    assert [p["numInputRows"] for p in q.recentProgress] == [2, 0]

    monkeypatch.setattr(pq, "write_table", write_table)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress] == [3]
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)) == []
    assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == [
        "a1", "a2", "c1", "c2", "c3"]


def test_stream_reads_a_malformed_file_through_spark(spark, tmpzone):
    """A request file with a malformed line fails the strict driver read, so
    its micro-batch (and only it) runs one Spark job, the scan through
    Spark's PERMISSIVE reader; the stream's answers equal the batch
    placement's on the same files."""
    import shutil

    from wifi_location_data_pipeline_spark.positioning.onepass import (
        position_requests_onepass,
    )
    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    kept = os.path.join(tmpzone, "kept"); os.makedirs(kept)
    q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
    jobs = []
    try:
        for k in range(3):
            name = f"req{k}.json"
            write_requests(name, [f"r{k}a", f"r{k}b"])
            if k == 1:  # a malformed line among well-formed ones
                with open(os.path.join(zone, name), "a") as f:
                    f.write('{"requestId": "bad", "wifiScanResults": [}\n')
            shutil.copy(os.path.join(zone, name), kept)
            q.processAllAvailable()
            jobs.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))))
        rows = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert jobs == [0, 1, 1]
    assert rows == [2, 3, 2]
    requests = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(kept)
    want = {r["request_id"]: r.asDict(recursive=True)
            for r in position_requests_onepass(requests, aps).collect()}
    got = {r["request_id"]: r.asDict(recursive=True)
           for r in spark.read.parquet(out).drop("batch_id").collect()}
    assert got == want and len(got) == 6

@pytest.mark.parametrize("with_reasons", [False, True], ids=["plain", "reasons"])
def test_streaming_positioning_matches_batch_placement(spark, tmpzone, with_reasons):
    """The stream runs the batch plan's kernel in the driver: its answers
    must EQUAL position_requests_onepass's on the same requests. The corpus
    has unknown and null MACs, physics-gate failures, duplicate MACs in a
    request, NULL AP vendor / confidence / altitude / frequency and 1-20
    scans, and lands as three files, one micro-batch each."""
    import json

    from tests.wifi_fixtures import RANDOMIZED_CORPORA, randomized_positioning_corpus
    from wifi_location_data_pipeline_spark.positioning.onepass import (
        position_requests_onepass,
    )
    from wifi_location_data_pipeline_spark.schemas import (
        POSITIONING_REQUEST_SCHEMA,
        WIFI_ACCESS_POINTS_SCHEMA,
    )
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    requests, ap_rows = randomized_positioning_corpus(*RANDOMIZED_CORPORA[0])
    for i, r in enumerate(requests[::3]):  # an unknown MAC among known ones
        r["wifiScanResults"][0]["macAddress"] = f"ff:ff:00:00:00:{i:02x}"
    requests[1]["wifiScanResults"] = [  # nothing but unknown MACs
        {**sc, "macAddress": f"ff:ff:00:00:01:{j:02x}"}
        for j, sc in enumerate(requests[1]["wifiScanResults"])
    ]
    requests[2]["wifiScanResults"][0]["macAddress"] = None  # a null MAC
    aps = spark.createDataFrame(ap_rows, WIFI_ACCESS_POINTS_SCHEMA)
    want = {
        r["request_id"]: r.asDict(recursive=True)
        for r in position_requests_onepass(
            spark.createDataFrame(requests, POSITIONING_REQUEST_SCHEMA), aps,
            with_reasons=with_reasons,
        ).collect()
    }
    assert 15 <= len(want) < len(requests)

    zone = os.path.join(tmpzone, "reqs"); os.makedirs(zone)
    out, ckpt = os.path.join(tmpzone, "positions"), os.path.join(tmpzone, "pos_ckpt")
    for k in range(3):
        with open(os.path.join(zone, f"part{k}.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in requests[k::3])
    q = start_positioning_stream(spark, zone, aps, out, ckpt, with_reasons=with_reasons,
                                 max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 3
    got = {
        r["request_id"]: r.asDict(recursive=True)
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert got == want


def test_streaming_positioning_replay_replaces_batch_dir(spark, tmpzone, monkeypatch):
    """The sink is at-least-once: a replayed batch_id=N must REPLACE
    what an earlier attempt left there (no stale part file survives), and
    _SUCCESS is written after the part file it vouches for. The sink path
    is relative, as Spark's own writer accepts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    stale_dir = os.path.join(out, "batch_id=0")
    os.makedirs(stale_dir)
    pq.write_table(pa.table({"request_id": ["stale"]}),
                   os.path.join(stale_dir, "part-00007-stale.parquet"))
    open(os.path.join(stale_dir, "_SUCCESS"), "w").close()
    write_requests("a.json", ["f1", "f2"])
    monkeypatch.chdir(tmpzone)
    q = start_positioning_stream(spark, zone, aps, os.path.relpath(out), ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted(os.listdir(stale_dir)) == ["_SUCCESS", "part-00000.parquet"]
    part = os.stat(os.path.join(stale_dir, "part-00000.parquet")).st_mtime_ns
    assert os.stat(os.path.join(stale_dir, "_SUCCESS")).st_mtime_ns >= part
    assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == ["f1", "f2"]


def test_streaming_positioning_empty_file_commits_empty_batch(spark, tmpzone):
    """An empty request file is a micro-batch with no answers: it commits
    without error and the next file is answered as usual."""
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    zone, out, ckpt, aps, write_requests = _positioning_fixture(spark, tmpzone)
    write_requests("a_empty.json", [])
    os.utime(os.path.join(zone, "a_empty.json"), (1, 1))  # oldest: batch 0
    write_requests("b_reqs.json", ["e1", "e2"])
    q = start_positioning_stream(spark, zone, aps, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress] == [0, 2]
    assert spark.read.parquet(os.path.join(out, "batch_id=0")).count() == 0
    assert sorted(r["request_id"] for r in spark.read.parquet(out).collect()) == ["e1", "e2"]


def test_streaming_ap_state_survives_restart(spark, tmpzone):
    """applyInPandasWithState recovery: the per-AP Kalman state (x-hat, P,
    n_updates) must be RESTORED from the state store when the query
    restarts on the same checkpoint — the new batch continues the filter
    (n_updates 2 -> 3, variance keeps contracting) instead of
    re-bootstrapping from scratch. This is the persistence contract the
    reference keeps in its AP-state table (kalman_update_step's batch
    twin); GroupState recovery is the streaming analog."""
    src = os.path.join(tmpzone, "estimates_r"); os.makedirs(src)
    ckpt = os.path.join(tmpzone, "ckpt_r")
    schema = (
        "bssid string, latitude double, longitude double,"
        " horizontal_accuracy double, batch_ts int"
    )
    spark.createDataFrame(
        [("ap1", 40.0, -74.0, 10.0, 1), ("ap1", 40.0002, -74.0002, 10.0, 2)],
        schema,
    ).write.parquet(os.path.join(src, "batch1"))

    out = os.path.join(tmpzone, "ap_state_out_r")

    def run_once():
        # a real (parquet) sink: the memory sink cannot recover from a
        # checkpoint, and recovery is exactly what this test pins
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = (
            streaming_ap_state(stream)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # each state flush appends one row per updated AP; the LATEST
        # n_updates per bssid is the live state
        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in rows:
            if r["bssid"] not in latest or r["n_updates"] > latest[r["bssid"]]["n_updates"]:
                latest[r["bssid"]] = r
        return latest

    first = run_once()
    assert first["ap1"]["n_updates"] == 2
    p_after_two = first["ap1"]["p_var_m2"]

    # new arrival AFTER the restart — the restored state must absorb it
    spark.createDataFrame(
        [("ap1", 40.0001, -74.0001, 10.0, 3)], schema
    ).write.parquet(os.path.join(src, "batch2"))
    second = run_once()
    assert second["ap1"]["n_updates"] == 3, "state was not restored on restart"
    assert second["ap1"]["p_var_m2"] < p_after_two  # variance kept contracting
    assert 40.0 < second["ap1"]["latitude"] < 40.0002


def test_streaming_session_emission_boundary(spark, tmp_path):
    """Pins the session-window emission boundary the
    streaming_session_counts oracle reproduces: with Trigger.AvailableNow
    and append mode, a session whose end falls EXACTLY on the final
    watermark (max event time - delay) IS emitted — the predicate is
    end <= watermark, inclusive. If a Spark upgrade ever flips this to
    strict less-than, this test fails before the cross-engine gate does."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:31:00")],
        "user_id long, s string",
    ).selectExpr("user_id", "CAST(s AS TIMESTAMP) AS ets")
    df.write.mode("overwrite").parquet(d)
    agg = (
        spark.readStream.schema(df.schema).parquet(d)
        .withWatermark("ets", "1 minute")
        .groupBy(F.session_window("ets", "30 minutes").alias("w"), "user_id")
        .count()
    )
    q = (
        agg.writeStream.format("memory").queryName("ssw_boundary")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT user_id, CAST(w.end AS STRING) AS e FROM ssw_boundary"
    ).collect()
    # user 1's session end (00:30:00) == final watermark (00:31 - 1 min):
    # emitted. user 2's session (end 01:01) is still in state: not emitted.
    assert [(r.user_id, r.e) for r in rows] == [(1, "2024-01-01 00:30:00")]


def test_streaming_session_boundary_sub_ms(spark, tmp_path):
    """Pins the MILLISECOND floor in the watermark base (ADVICE r8): Spark
    tracks event-time watermarks in whole ms (max event time truncated to
    ms, minus the delay), so a session ending in the sub-ms gap below the
    exact-microsecond MAX(ts) - delay must NOT be emitted. Events at
    00:00:00.000300 and 00:31:00.000500: session 1 ends 00:30:00.000300;
    the exact-micros watermark (00:30:00.000500) would emit it, but the
    real watermark floors to 00:30:00.000 and holds it in state. The
    streaming_session_counts oracle reproduces the floor — asserted here
    against DuckDB on the same two rows."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "src_subms")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00.000300"), (2, "2024-01-01 00:31:00.000500")],
        "user_id long, s string",
    ).selectExpr("user_id", "CAST(s AS TIMESTAMP) AS ets")
    df.write.mode("overwrite").parquet(d)
    agg = (
        spark.readStream.schema(df.schema).parquet(d)
        .withWatermark("ets", "1 minute")
        .groupBy(F.session_window("ets", "30 minutes").alias("w"), "user_id")
        .count()
    )
    q = (
        agg.writeStream.format("memory").queryName("ssw_subms")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT * FROM ssw_subms").count() == 0

    # the oracle's ms-floored predicate agrees: same rows, zero sessions
    import duckdb

    from wifi_location_data_pipeline_spark.plans.queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        "(1::BIGINT, TIMESTAMP '2024-01-01 00:00:00.000300'), "
        "(2::BIGINT, TIMESTAMP '2024-01-01 00:31:00.000500')"
        ") AS t(user_id, ts)"
    )
    oracle = QUERIES["streaming_session_counts"].oracle()
    assert con.execute(oracle).fetchall() == []


def test_interval_join_multi_batch_state_retention(spark, tmp_path):
    """Stream-stream interval join across MICRO-BATCH boundaries: clicks
    arriving in batch k must match purchases arriving in batch k+1 as
    long as the pair is inside the 1-hour interval (join state retained
    until the watermark passes click_ts + 1h). Events are staged as
    three TIME-ORDERED files consumed one per trigger — the arrival
    order a real file stream has — so no row is late and the streaming
    result must equal the batch self-join exactly."""
    from pyspark.sql import functions as F2

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ordered = events.orderBy("ts").withColumn(
        "part", F2.ntile(3).over(__import__("pyspark").sql.Window.orderBy("ts"))
    )
    stage = str(tmp_path / "stage")
    for p in (1, 2, 3):
        ordered.filter(F2.col("part") == p).drop("part").coalesce(1).write.mode(
            "append" if p > 1 else "overwrite"
        ).parquet(stage)

    def side(event_type, alias):
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .filter(F2.col("event_type") == event_type)
            .select(
                F2.col("user_id").alias(f"{alias}_user"),
                F2.col("event_id").alias(f"{alias}_id"),
                F2.col("ts").cast("timestamp").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    joined = side("click", "c").join(
        side("purchase", "p"),
        F2.expr("p_user = c_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        "inner",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj_multibatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c_id) AS BIGINT) AS cs,"
        " CAST(SUM(p_id) AS BIGINT) AS ps FROM ivj_multibatch"
    ).collect()[0]

    c = events.filter("event_type = 'click'").select(
        F2.col("user_id").alias("cu"), F2.col("event_id").alias("ci"),
        F2.col("ts").cast("timestamp").alias("ct"),
    )
    p = events.filter("event_type = 'purchase'").select(
        F2.col("user_id").alias("pu"), F2.col("event_id").alias("pi"),
        F2.col("ts").cast("timestamp").alias("pt"),
    )
    want = (
        c.join(p, F2.expr("pu = cu AND pt > ct AND pt <= ct + INTERVAL 1 HOUR"))
        .agg(
            F2.count("*").cast("long").alias("n"),
            F2.sum("ci").cast("long").alias("cs"),
            F2.sum("pi").cast("long").alias("ps"),
        )
        .collect()[0]
    )
    assert got.n == want.n and got.n > 0
    assert got.cs == want.cs and got.ps == want.ps


def test_left_interval_join_emits_only_after_interval_expires(spark, tmp_path):
    """LEFT OUTER interval join eviction contract across RESTARTS: an
    unmatched click must NOT emit while the watermark is inside its
    one-hour interval, and MUST emit NULL-padded once later arrivals
    push the watermark past the interval end. Two availableNow runs
    share one checkpoint: run 1 sees only the click (plus a purchase
    for a different user, so both sides carry a watermark) and emits
    nothing; run 2 sees +3 h events on both sides and must emit exactly
    the NULL-padded click from run 1."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F2

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    batch1 = [
        Row(event_id=1, ts=t0, user_id=1, event_type="click", value=1.0, props=""),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=5), user_id=2,
            event_type="purchase", value=1.0, props=""),
    ]
    batch2 = [
        Row(event_id=3, ts=t0 + dt.timedelta(hours=3), user_id=3,
            event_type="click", value=1.0, props=""),
        Row(event_id=4, ts=t0 + dt.timedelta(hours=3), user_id=4,
            event_type="purchase", value=1.0, props=""),
    ]

    def run():
        def side(et, alias):
            return (
                spark.readStream.schema(schema)
                .parquet(stage)
                .filter(F2.col("event_type") == et)
                .select(
                    F2.col("user_id").alias(f"{alias}_user"),
                    F2.col("event_id").alias(f"{alias}_id"),
                    F2.col("ts").cast("timestamp").alias(f"{alias}_ts"),
                )
                .withWatermark(f"{alias}_ts", "1 hour")
            )

        j = side("click", "c").join(
            side("purchase", "p"),
            F2.expr(
                "p_user = c_user AND p_ts > c_ts"
                " AND p_ts <= c_ts + INTERVAL 1 HOUR"
            ),
            "leftOuter",
        )
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    run()
    got1 = spark.read.parquet(out).collect()
    # the click's interval [t0, t0+1h] has not closed: nothing may emit
    assert got1 == []

    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    run()
    got2 = spark.read.parquet(out).collect()
    # exactly the run-1 click, NULL-padded; the run-2 click's interval is
    # still open, so it must NOT appear
    assert len(got2) == 1
    r = got2[0]
    assert r.c_id == 1 and r.c_user == 1 and r.p_id is None and r.p_user is None
