"""The benchmark's workloads, driven through the engine's public calls.

``batch_pipeline`` runs two stages in each pass: ``ingest`` (raw zone ->
committed ``wifi_measurements``) and ``localize`` (committed measurements ->
quality -> AP table -> positions -> comparison). ``position_serving`` drives
the positioning stream from an open-loop generator.

Each workload has a set-up (inputs, setup tables, warm-up; billed to
``setup_s``) and a measured phase. Every timed stage ends in a committed
write: parquet for product outputs and, in traced passes only, a persisted
``noop`` write at each layer boundary so a layer's span times that layer
alone. Outputs are checked after every pass, outside the timed region.

A workload returns a ``Result``: the latency samples of its unit of work,
the count of checked operations and of failed ones, human-readable product
figures, and (traced runs) per-layer metrics named ``<module>.<metric>``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.measure import Tracer

# Sizes for a 4-core host. At these sizes a pass costs mostly the engine's
# per-job fixed cost (planning, scheduling, Python hops); a batch run takes
# 70-90 s and a serving run 42-53 s there, so 48 runs fit in under an hour.
# The serving rate leaves the stream headroom: near its drain rate the
# backlog grows through the run and latency swings with host load.
INGEST_APS, INGEST_DOCS = 1600, 2000
LOCALIZE_APS, REQUESTS = 300, 2000
SERVE_APS, SERVE_RATE, SERVE_PER_FILE = 1600, 8.0, 2

# Accuracy ceilings on the planted truth; a pass above them is a wrong answer.
# Over 46 seeds the median AP error was 1.92-2.48 m and the median position
# error 7.50-8.90 m, so each ceiling sits just above the worst seen: a
# worsening of about a fifth fails the pass.
MAX_AP_ERROR_P50_M = 3.0
MAX_POSITION_ERROR_P50_M = 10.0

@dataclass
class Bench:
    spark: SparkSession
    seed: int
    seconds: float
    traced: bool
    work: str
    ncpu: int
    now_ms: int
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    latencies_ms: list[float]
    attempted: int
    failed: int
    human: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    # Spark job group -> ``<layer>#<traced pass>``, for groups the engine names itself
    groups: dict[str, str] = field(default_factory=dict)
    traced_passes: int = 0


def median(xs) -> float:
    return float(statistics.median(xs))


def boundary(df: DataFrame, cached: list) -> DataFrame:
    """Materialize a layer's output (traced passes only): persist + noop write."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    cached.append(df)
    return df


def measured_passes(b: Bench, one_pass) -> tuple[list[dict], list[dict]]:
    """Start passes until ``b.seconds`` have gone by (at least one of each
    kind). In a traced run, untraced and traced passes alternate so the
    tracing overhead is measured in one session. Traced pass ``i`` tags its
    Spark jobs ``<layer>#<i>``. Returns (untraced passes, traced passes)."""
    plain, traced = [], []
    end = time.perf_counter() + b.seconds
    k = 0
    while time.perf_counter() < end or not plain or (b.traced and not traced):
        t = b.traced and k % 2 == 1
        b.tracer.enabled = t
        b.tracer.pass_id = len(traced)
        (traced if t else plain).append(one_pass(t))
        k += 1
    b.tracer.enabled = False
    return plain, traced


def layer_metrics(traced: list[dict], spans: dict[str, str]) -> dict[str, float]:
    """Median over traced passes of each ``metric -> span`` duration and of
    every count a pass recorded under ``counts``."""
    out: dict[str, float] = {}
    for metric, span in spans.items():
        out[metric] = median([p["dur"].get(span, 0.0) for p in traced])
    for key in traced[0]["counts"]:
        out[key] = median([p["counts"][key] for p in traced])
    return out


def _files_and_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


@dataclass
class Stage:
    """One batch sub-pipeline. ``run(traced)`` times one pass over the
    stage's inputs and checks its output; ``report`` folds the passes into
    the result."""

    run: Callable[[bool], dict]
    report: Callable[[Result, list[dict], list[dict]], None]
    # spans whose self time is glue: reads and hand-offs between layers
    glue_spans: tuple[str, ...]


def batch_pipeline(b: Bench, setup_done) -> Result:
    """Build the ingest and localize stages' inputs and warm each with one
    checked pass (Python workers, class loading, code generation; the
    localize set-up runs on a JVM the ingest warm-up heated), then time
    passes that run both stages in order. A pass's latency is the sum of
    its stages' times."""
    res = Result(latencies_ms=[], attempted=0, failed=0)
    stages = []
    for build in (ingest_stage, localize_stage):
        stages.append(build(b))
        stages[-1].report(res, [stages[-1].run(False)], [])
    setup_done()
    plain, traced = measured_passes(b, lambda t: [st.run(t) for st in stages])
    res.traced_passes = len(traced)
    res.latencies_ms = [sum(part["elapsed"] for part in p) * 1000 for p in plain]
    for i, st in enumerate(stages):
        st.report(res, [p[i] for p in plain], [p[i] for p in traced])
    if traced:
        t_plain = median([sum(part["elapsed"] for part in p) for p in plain])
        t_traced = median([sum(part["elapsed"] for part in p) for p in traced])
        glue = [sum(part["self"].get(n, 0.0) for st, part in zip(stages, p) for n in st.glue_spans)
                for p in traced]
        res.layer.update({
            "bench.trace.untraced_pass_s": t_plain,
            "bench.trace.pass_s": t_traced,
            "bench.trace.overhead_s": t_traced - t_plain,
            "bench.trace.glue_s": median(glue),
        })
    return res


# ---------------------------------------------------------------------------
# ingest stage
# ---------------------------------------------------------------------------


def ingest_stage(b: Bench) -> Stage:
    from wifi_location_data_pipeline_spark.operators.flatten import (
        flatten_connected_events,
        flatten_scan_results,
        union_tiers,
    )
    from wifi_location_data_pipeline_spark.operators.transform import (
        transform_documents,
        write_measurements,
    )
    from wifi_location_data_pipeline_spark.sources.raw_scan import read_raw_scan_documents

    spark, tr = b.spark, b.tracer
    city = gen.City(b.seed, INGEST_APS)
    zone, out = b.path("raw"), b.path("ingest_out")
    expect = gen.write_raw_zone(zone, city, b.seed, INGEST_DOCS, max(b.ncpu, 4), b.now_ms)

    def run(traced: bool) -> dict:
        cached: list = []
        mark = tr.mark()
        t0 = time.perf_counter()
        with tr.span("ingest"):
            with tr.span("sources.codec", "sources.codec"):
                docs = read_raw_scan_documents(spark, zone)
                if traced:
                    docs = boundary(docs, cached)
            with tr.span("operators.transform.plan"):
                rows = transform_documents(docs)
            if traced:
                with tr.span("operators.transform", "operators.transform"):
                    rows = boundary(rows, cached)
            with tr.span("operators.transform.write", "operators.transform.write"):
                write_measurements(rows, out, mode="overwrite")
        elapsed = time.perf_counter() - t0
        got = spark.read.parquet(out).count()
        if got != expect["rows"]:
            print(f"ingest: expected {expect['rows']} rows, got {got}", file=sys.stderr)
        p = {"elapsed": elapsed, "wrong": int(got != expect["rows"]), "rows": got,
             "dur": tr.durations(mark), "self": tr.self_times(mark), "counts": {}}
        if traced:
            lines_in = spark.read.text(zone).count()
            docs_out = docs.count()
            flat = union_tiers(flatten_connected_events(docs), flatten_scan_results(docs)).count()
            files, size = _files_and_bytes(out)
            p["counts"] = {
                "sources.codec.lines_in": lines_in,
                "sources.codec.docs_out": docs_out,
                "sources.codec.parse_ratio": docs_out / lines_in,
                "operators.transform.rows_flattened": flat,
                "operators.transform.rows_out": got,
                "operators.transform.keep_ratio": got / flat,
                "operators.transform.write.files": files,
                "operators.transform.write.bytes": size,
            }
        for df in cached:
            df.unpersist()
        return p

    def report(res: Result, plain: list[dict], traced: list[dict]) -> None:
        # one backfill job per pass
        res.attempted += len(plain) + len(traced)
        res.failed += sum(p["wrong"] for p in plain + traced)
        t = median([p["elapsed"] for p in plain])
        res.human.update({
            "ingest_s": (t, "s"),
            "ingest_rows": (plain[0]["rows"], "count"),
            "ingest_rows_per_s": (plain[0]["rows"] / t, "1/s"),
        })
        if traced:
            res.layer.update(layer_metrics(traced, {
                "sources.codec.exec_s": "sources.codec",
                "operators.transform.plan_s": "operators.transform.plan",
                "operators.transform.exec_s": "operators.transform",
                "operators.transform.write.exec_s": "operators.transform.write",
                "bench.ingest_s": "ingest",
            }))

    return Stage(run, report, ("ingest",))


# ---------------------------------------------------------------------------
# localize stage
# ---------------------------------------------------------------------------


def _ap_dimension(fused: DataFrame) -> DataFrame:
    """Kalman-fused AP state → the wifi_access_points layout positioning reads."""
    from wifi_location_data_pipeline_spark.functions.geo import geohash

    return fused.select(
        F.col("bssid").alias("mac_addr"),
        F.lit("1").alias("version"),
        "latitude",
        "longitude",
        F.lit(None).cast("double").alias("altitude"),
        F.sqrt("p_var_m2").alias("horizontal_accuracy"),
        F.lit(None).cast("double").alias("vertical_accuracy"),
        F.lit(0.7).alias("confidence"),
        F.lit(None).cast("string").alias("ssid"),
        F.lit(None).cast("int").alias("frequency"),
        F.lit(None).cast("string").alias("vendor"),
        F.lit("active").alias("status"),
        geohash(F.col("latitude"), F.col("longitude")).alias("geohash"),
    )


def _check_positions(pos: pd.DataFrame, truth: pd.DataFrame, known: set) -> tuple[int, float, int]:
    """(wrong answers, median error m, answered) of one positioning output.

    A request must be answered exactly once iff it passes the physics gate
    and scans at least one AP the table knows; an answer must have a
    position."""
    answerable = truth[truth["physics_ok"] & truth["macs"].map(lambda ms: any(m in known for m in ms))]
    expected = set(answerable["request_id"])
    ids = pos["request_id"]
    got = set(ids)
    wrong = (
        len(expected - got) + len(got - expected) + int(ids.duplicated().sum())
        + int(pos[["latitude", "longitude"]].isna().any(axis=1).sum())
    )
    j = pos.drop_duplicates("request_id").merge(truth, on="request_id", suffixes=("", "_t"))
    err = gen.haversine_m(j["latitude"], j["longitude"], j["latitude_t"], j["longitude_t"])
    err = err[np.isfinite(err)]
    return wrong, float(np.median(err)) if len(err) else math.inf, len(got)


def localize_stage(b: Bench) -> Stage:
    from wifi_location_data_pipeline_spark.operators.comparison import compare_positions
    from wifi_location_data_pipeline_spark.operators.hotspot import (
        behavioral_hotspot_bssids,
        delete_hotspot_rows,
    )
    from wifi_location_data_pipeline_spark.operators.localization import kalman_update, localize_all
    from wifi_location_data_pipeline_spark.operators.outliers import flag_global_outliers
    from wifi_location_data_pipeline_spark.operators.transform import write_measurements
    from wifi_location_data_pipeline_spark.positioning.onepass import position_requests_onepass
    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA

    spark, tr = b.spark, b.tracer
    city = gen.City(b.seed, LOCALIZE_APS)
    meas, ap_truth, prior = gen.make_measurements(city, b.seed, b.now_ms)
    reqs, req_truth = gen.make_requests(city, b.seed, REQUESTS, "q")
    paths = {k: b.path("localize", k) for k in ("measurements", "prior", "truth", "requests", "clean",
                                                 "access_points", "positions", "comparison")}
    write_measurements(spark.createDataFrame(meas), paths["measurements"], mode="overwrite")
    spark.createDataFrame(prior).write.mode("overwrite").parquet(paths["prior"])
    spark.createDataFrame(req_truth[["request_id", "latitude", "longitude"]].assign(accuracy=5.0)) \
        .write.mode("overwrite").parquet(paths["truth"])
    os.makedirs(paths["requests"])
    n_files = max(b.ncpu, 4)
    for f in range(n_files):
        gen.write_json_lines(os.path.join(paths["requests"], f"req-{f:03d}.json"), reqs[f::n_files])
    ap_eval = ap_truth[ap_truth["kind"] == "ap"].set_index("bssid")
    city_macs = set(city.macs)

    def run(traced: bool) -> dict:
        cached: list = []
        mark = tr.mark()
        t0 = time.perf_counter()
        with tr.span("localize_and_position"):
            with tr.span("localize"):
                m = spark.read.parquet(paths["measurements"])
                with tr.span("operators.outliers", "operators.outliers"):
                    flagged = flag_global_outliers(m)
                    if traced:
                        flagged = boundary(flagged, cached)
                with tr.span("operators.hotspot", "operators.hotspot"):
                    hot = behavioral_hotspot_bssids(flagged)
                    delete_hotspot_rows(flagged, hot).write.mode("overwrite").parquet(paths["clean"])
                prior_state = spark.read.parquet(paths["prior"])
                with tr.span("operators.localization.plan"):
                    est = localize_all(spark.read.parquet(paths["clean"]), prior_state=prior_state)
                if traced:
                    with tr.span("operators.localization", "operators.localization"):
                        est = boundary(est, cached)
                with tr.span("operators.localization.kalman", "operators.localization"):
                    fused = kalman_update(
                        prior_state, est.select("bssid", "latitude", "longitude", "horizontal_accuracy")
                    )
                    _ap_dimension(fused).write.mode("overwrite").parquet(paths["access_points"])
            t_loc = time.perf_counter()
            with tr.span("position"):
                aps = spark.read.parquet(paths["access_points"])
                requests = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(paths["requests"])
                with tr.span("positioning.onepass.plan"):
                    pos = position_requests_onepass(requests, aps)
                with tr.span("positioning.onepass", "positioning.onepass"):
                    pos.write.mode("overwrite").parquet(paths["positions"])
                with tr.span("operators.comparison", "operators.comparison"):
                    compare_positions(
                        spark.read.parquet(paths["positions"]), spark.read.parquet(paths["truth"])
                    ).write.mode("overwrite").parquet(paths["comparison"])
        t1 = time.perf_counter()

        ap_tab = pq.read_table(paths["access_points"], columns=["mac_addr", "latitude", "longitude"]).to_pandas()
        known = set(ap_tab["mac_addr"])
        j = ap_tab.set_index("mac_addr").join(ap_eval, rsuffix="_t", how="inner")
        ap_err = float(np.median(gen.haversine_m(j["latitude"], j["longitude"], j["latitude_t"], j["longitude_t"])))
        ap_wrong = int(
            ap_tab["mac_addr"].duplicated().any() or not known <= city_macs
            or len(known) < len(prior) or not ap_err <= MAX_AP_ERROR_P50_M
        )
        pos_df = pq.read_table(paths["positions"], columns=["request_id", "latitude", "longitude"]).to_pandas()
        pos_wrong, pos_err, answered = _check_positions(pos_df, req_truth, known)
        pos_wrong += int(not pos_err <= MAX_POSITION_ERROR_P50_M)
        p = {
            "elapsed": t1 - t0, "localize_s": t_loc - t0, "position_s": t1 - t_loc,
            "ap_err": ap_err, "pos_err": pos_err, "wrong": ap_wrong + pos_wrong,
            "n_requests": len(reqs),
            "dur": tr.durations(mark), "self": tr.self_times(mark), "counts": {},
        }
        if traced:
            rows_in = m.count()
            n_flag = flagged.filter(F.col("is_global_outlier")).count()
            by_algo = {r["algorithm"]: r["count"] for r in est.groupBy("algorithm").count().collect()}
            cmp = pq.read_table(paths["comparison"], columns=["agreement"]).to_pandas()["agreement"]
            p["counts"] = {
                "operators.outliers.rows_in": rows_in,
                "operators.outliers.flag_ratio": n_flag / rows_in,
                "operators.hotspot.bssids_out": hot.count(),
                "operators.hotspot.rows_deleted": rows_in - spark.read.parquet(paths["clean"]).count(),
                "operators.localization.aps_wcl": by_algo.get("WCL", 0),
                "operators.localization.aps_mle": by_algo.get("MLE", 0),
                "operators.localization.aps_bayes": by_algo.get("BAYESIAN", 0),
                "positioning.onepass.requests_in": len(reqs),
                "positioning.onepass.answered_ratio": answered / len(reqs),
                "operators.comparison.agree_ratio": float((cmp == "AGREE").mean()),
            }
        for df in cached:
            df.unpersist()
        return p

    def report(res: Result, plain: list[dict], traced: list[dict]) -> None:
        # one localization and one answer per request, per pass
        res.attempted += sum(1 + p["n_requests"] for p in plain + traced)
        res.failed += sum(p["wrong"] for p in plain + traced)
        med = lambda k: median([p[k] for p in plain])  # noqa: E731
        res.human.update({
            "localize_s": (med("localize_s"), "s"),
            "position_batch_s": (med("position_s"), "s"),
            "ap_error_p50_m": (med("ap_err"), "m"),
            "position_error_p50_m": (med("pos_err"), "m"),
            "position_requests": (plain[0]["n_requests"], "count"),
        })
        if traced:
            res.layer.update(layer_metrics(traced, {
                "operators.outliers.exec_s": "operators.outliers",
                "operators.hotspot.exec_s": "operators.hotspot",
                "operators.localization.plan_s": "operators.localization.plan",
                "operators.localization.exec_s": "operators.localization",
                "operators.localization.kalman_s": "operators.localization.kalman",
                "positioning.onepass.plan_s": "positioning.onepass.plan",
                "positioning.onepass.exec_s": "positioning.onepass",
                "operators.comparison.exec_s": "operators.comparison",
                "bench.localize_s": "localize",
                "bench.position_batch_s": "position",
            }))
            res.layer["bench.ap_error_p50_m"] = median([p["ap_err"] for p in traced])
            res.layer["bench.position_error_p50_m"] = median([p["pos_err"] for p in traced])

    return Stage(run, report, ("localize_and_position", "localize", "position"))


# ---------------------------------------------------------------------------
# position_serving
# ---------------------------------------------------------------------------


def _stage_requests(reqs: list[dict], staging: str, per_file: int, prefix: str) -> None:
    os.makedirs(staging)
    for f in range(0, len(reqs), per_file):
        gen.write_json_lines(os.path.join(staging, f"{prefix}-{f // per_file:05d}.json"), reqs[f:f + per_file])


def _answers(out: str) -> pd.DataFrame:
    """(request_id, committed) for every answer in the sink: one
    ``batch_id=N`` directory per micro-batch, committed when its _SUCCESS
    marker was written."""
    frames = []
    for d in os.listdir(out):
        if not d.startswith("batch_id="):
            continue
        ok = os.path.join(out, d, "_SUCCESS")
        if not os.path.exists(ok):
            continue
        ids = pq.read_table(os.path.join(out, d), columns=["request_id"]).column(0).to_pylist()
        frames.append(pd.DataFrame({"request_id": ids, "committed": os.stat(ok).st_mtime_ns / 1e9}))
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        {"request_id": [], "committed": []})


def position_serving(b: Bench, setup_done) -> Result:
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA
    from wifi_location_data_pipeline_spark.streaming.positioning import start_positioning_stream

    spark, tr = b.spark, b.tracer
    city = gen.City(b.seed, SERVE_APS)
    spark.createDataFrame(gen.ap_dimension(city), WIFI_ACCESS_POINTS_SCHEMA) \
        .write.mode("overwrite").parquet(b.path("access_points"))
    aps = spark.read.parquet(b.path("access_points")).cache()
    aps.count()
    n_files = max(100, int(round(SERVE_RATE * b.seconds)))
    # every request is answerable: no unknown MACs, and only scan sets that
    # pass the physics gate
    reqs, truth = gen.make_requests(city, b.seed, n_files * SERVE_PER_FILE * 11 // 10, "s",
                                    unknown_frac=0.0, bad_frac=0.0)
    keep = truth["physics_ok"].to_numpy().nonzero()[0][: n_files * SERVE_PER_FILE]
    reqs, truth = [reqs[i] for i in keep], truth.iloc[keep].reset_index(drop=True)
    _stage_requests(reqs, b.path("staging"), SERVE_PER_FILE, "req")
    warm, _ = gen.make_requests(city, b.seed + 1, 16 * SERVE_PER_FILE, "w")
    _stage_requests(warm, b.path("warm"), SERVE_PER_FILE, "warm")

    # warm-up: drain a small zone through the same stream plan
    start_positioning_stream(spark, b.path("warm"), aps, b.path("warm_out"), b.path("warm_ckpt")) \
        .awaitTermination(120)
    zone, out = b.path("zone"), b.path("answers")
    os.makedirs(zone)
    q = start_positioning_stream(spark, zone, aps, out, b.path("ckpt"), available_now=False)
    setup_done()

    log_path = b.path("lander.json")
    start = time.time() + 0.5
    tr.enabled = b.traced
    with tr.span("streaming.positioning", "streaming.positioning"):
        lander = subprocess.Popen(
            [sys.executable, "-m", "perfbench.lander", b.path("staging"), zone,
             str(SERVE_RATE), repr(start), log_path],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        try:
            lander.wait(timeout=b.seconds * 3 + 30)
        finally:
            if lander.poll() is None:
                lander.kill()
                lander.wait()
        q.processAllAvailable()
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    run_id = str(q.runId)
    q.stop()

    with open(log_path, encoding="utf-8") as fh:
        landed = pd.DataFrame(json.load(fh))
    ans = _answers(out)
    file_of = {r["requestId"]: i // SERVE_PER_FILE for i, r in enumerate(reqs)}
    ans["file"] = ans["request_id"].map(file_of)
    due = landed["due"].to_numpy()
    lat_ms = (ans["committed"] - due[ans["file"].to_numpy()]) * 1000.0
    wrong, _err, _answered = _check_positions(
        pq.read_table(out, columns=["request_id", "latitude", "longitude"]).to_pandas(),
        truth, set(city.macs),
    )
    # backlog at each landing: files landed so far minus files answered by then
    file_done = ans.groupby("file")["committed"].min().reindex(range(len(landed)), fill_value=math.inf)
    done_sorted = np.sort(file_done.to_numpy())
    backlog = [i + 1 - int(np.searchsorted(done_sorted, t, side="right"))
               for i, t in enumerate(landed["landed"].to_numpy())]
    lag_ms = float((landed["landed"] - landed["due"]).max() * 1000.0)

    res = Result(
        latencies_ms=lat_ms.tolist(),
        attempted=len(reqs),
        failed=wrong,
        human={
            "serve_latency_p50_ms": (float(np.percentile(lat_ms, 50)), "ms"),
            "serve_latency_p90_ms": (float(np.percentile(lat_ms, 90)), "ms"),
            "serve_backlog_max": (max(backlog), "files"),
            "serve_files": (len(landed), "count"),
            "serve_rate": (SERVE_RATE * SERVE_PER_FILE, "req/s"),
            "generator_lag_ms_max": (lag_ms, "ms"),
        },
    )
    if b.traced:
        dur = lambda k: median([p["durationMs"].get(k, 0.0) for p in progress])  # noqa: E731
        res.layer = {
            "streaming.positioning.batches": len(progress),
            "streaming.positioning.rows_per_batch": median([p["numInputRows"] for p in progress]),
            **{f"streaming.positioning.{k}_ms": dur(k) for k in (
                "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")},
            "bench.serve_latency_p50_ms": res.human["serve_latency_p50_ms"][0],
            "bench.serve_latency_p90_ms": res.human["serve_latency_p90_ms"][0],
            "bench.serve_backlog_max": max(backlog),
            "bench.generator.lag_ms_max": lag_ms,
            "bench.trace.pass_s": tr.durations().get("streaming.positioning", 0.0),
        }
        # the stream tags its jobs with its run id; one traced window
        res.groups[run_id] = "streaming.positioning#0"
        res.traced_passes = 1
    return res


WORKLOADS = {"batch_pipeline": batch_pipeline, "position_serving": position_serving}
