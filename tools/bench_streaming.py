"""Positioning-stream backfill drain timer.

Serving latency is measured by perfbench's ``position_serving`` workload;
this tool times the other end of the stream's envelope, throughput: a
request zone that filled up while the stream was down, drained by
``start_positioning_stream(available_now=True)`` in one micro-batch.

Method: ``--requests`` perfbench-generated requests (1-20 scans, unknown
MACs and physics-gate failures included, against a 1 600-AP city) land in
files of 100 requests. One untimed drain warms the session; each of
``--reps`` timed drains then starts a fresh stream (new sink and checkpoint)
over its own copy of the zone (the stream archives the files it answered)
and is timed from ``start_positioning_stream`` to ``awaitTermination``.
Every drain must answer the same number of requests.
Prints ONE JSON line:

    {"metric": "positioning_backfill_drain", "n_requests": N, "answered": A,
     "reps": R, "drain_s": <median>, "drain_s_all": [...],
     "requests_per_s": N / drain_s}

Usage: python tools/bench_streaming.py [--requests 20000] [--reps 5] [--seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PER_FILE = 100
N_APS = 1600


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--requests", type=int, default=20_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from perfbench import gen
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA
    from wifi_location_data_pipeline_spark.session import build_session
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    ncpu = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="bench_drain_")
    spark = build_session(
        app_name="bench-drain", master=f"local[{ncpu}]", shuffle_partitions=ncpu,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
        },
    )
    try:
        city = gen.City(args.seed, N_APS)
        spark.createDataFrame(gen.ap_dimension(city), WIFI_ACCESS_POINTS_SCHEMA) \
            .write.parquet(os.path.join(work, "access_points"))
        aps = spark.read.parquet(os.path.join(work, "access_points")).cache()
        aps.count()
        reqs, _truth = gen.make_requests(city, args.seed, args.requests, "d")
        staged = os.path.join(work, "staged")
        os.makedirs(staged)
        for f in range(0, len(reqs), PER_FILE):
            gen.write_json_lines(os.path.join(staged, f"req-{f // PER_FILE:05d}.json"),
                                 reqs[f:f + PER_FILE])

        def drain(k: int) -> tuple[float, int]:
            out, ckpt = os.path.join(work, f"out{k}"), os.path.join(work, f"ckpt{k}")
            zone = shutil.copytree(staged, os.path.join(work, f"zone{k}"))
            t0 = time.perf_counter()
            q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=True)
            q.awaitTermination()
            wall = time.perf_counter() - t0
            if q.exception() is not None:
                raise RuntimeError(f"drain {k} failed: {q.exception()}")
            return wall, spark.read.parquet(out).count()

        _wall, answered = drain(0)  # warm-up
        walls = []
        for k in range(1, args.reps + 1):
            wall, n = drain(k)
            if n != answered:
                raise RuntimeError(f"drain {k} answered {n} requests, warm-up {answered}")
            walls.append(wall)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    med = statistics.median(walls)
    print(json.dumps({
        "metric": "positioning_backfill_drain",
        "n_requests": len(reqs),
        "answered": answered,
        "reps": len(walls),
        "drain_s": round(med, 3),
        "drain_s_all": [round(w, 3) for w in walls],
        "requests_per_s": round(len(reqs) / med, 1),
    }))


if __name__ == "__main__":
    main()
