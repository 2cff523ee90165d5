"""Product-path benchmark of the wifi location engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (BENCHMARK.json says why;
perfbench/README.md has the details):

- ``batch_pipeline``: the ingest stage (raw base64(gzip(JSON)) zone ->
  ``read_raw_scan_documents`` -> ``transform_documents`` ->
  ``write_measurements``), then the localize stage (committed
  ``wifi_measurements`` -> outliers -> hotspot delete -> ``localize_all`` +
  ``kalman_update`` -> AP table -> ``position_requests_onepass`` ->
  ``compare_positions``);
- ``position_serving``: ``start_positioning_stream`` fed by an open-loop
  generator that lands request files on a fixed schedule.

End-to-end metrics (every workload, untraced): ``setup_s`` (inputs, session
start, warm-up, setup tables) and ``latency_p50_ms`` (median latency of the
workload's unit of work: one pass of its batch stages; one request from
its scheduled landing to its committed answer).
``--trace 1`` reports the per-layer metrics named in BENCHMARK.json instead;
a layer the workload does not run reports 0. Each per-layer value is a
median over the run's traced passes. The product figures
(``ingest_s``, ``localize_s``, ``position_batch_s``, accuracy, serving p90,
backlog, ``failed_frac`` and ``peak_rss_mb`` of the driver JVM plus its
Python workers) are printed as ``name value unit`` lines before the final
JSON line.

Exits 2 without a result when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ncpu() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, app: str, ncpu: int, event_dir: str | None):
    from wifi_location_data_pipeline_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
    }
    if event_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return build_session(app_name=app, master=f"local[{ncpu}]", shuffle_partitions=ncpu, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import wifi_location_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import gen, measure, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    ncpu = _ncpu()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "events") if args.trace else None
    for d in (work, os.path.join(work, "tmp"), event_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included, keeps its temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    # Python workers import the engine (mapInPandas kernels) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    spark = None
    try:
        spark = start_session(work, f"perfbench-{args.workload}", ncpu, event_dir)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        # enabled per pass by the workload; set-up and warm-up are never traced
        tracer = measure.Tracer(f"{args.workload}-{args.seed}", False, spark)
        b = workloads.Bench(
            spark=spark, seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
            work=work, ncpu=ncpu, now_ms=gen.day_floor_ms(int(time.time() * 1000)), tracer=tracer,
        )
        setup_end: list[float] = []
        with measure.RssSampler(jvm_pid) as rss:
            res = workloads.WORKLOADS[args.workload](b, lambda: setup_end.append(time.perf_counter()))
        setup_s = setup_end[0] - T_START

        layer_names = [m["name"] for m in spec["per_layer"]]
        if args.trace:
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
            stop_session(spark)
            spark = None
            layer = {k: 0.0 for k in layer_names}
            layer.update({k: v for k, v in res.layer.items() if k in layer})
            layer.update(measure.per_pass_layer_totals(
                measure.event_log_totals(event_dir), res.groups, res.traced_passes, layer_names))
            missing = set(res.layer) - set(layer)
            if missing:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(missing)}")
            layer["bench.peak_rss_mb"] = rss.peak_mb
            values = layer
        else:
            values = {"setup_s": setup_s, "latency_p50_ms": statistics.median(res.latencies_ms)}
        units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}

        failed_frac = res.failed / res.attempted
        for name, (v, unit) in res.human.items():
            print(f"{name} {v:.6g} {unit}")
        print(f"failed_frac {failed_frac:.6g} ratio")
        print(f"latency_samples {len(res.latencies_ms)} count")
        print(f"peak_rss_mb {rss.peak_mb:.6g} MB")
        if not args.trace:
            for name, m in metrics.items():
                print(f"{name} {m['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
