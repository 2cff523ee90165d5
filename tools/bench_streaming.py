"""Positioning-stream throughput: the backfill drain, and the serving rates.

Serving latency at one rate is measured by perfbench's ``position_serving``
workload; this tool times the rest of the stream's envelope.

Drain (the default): a request zone that filled up while the stream was
down, drained by ``start_positioning_stream(available_now=True)`` in one
micro-batch. ``--requests`` perfbench-generated requests (1-20 scans,
unknown MACs and physics-gate failures included, against a 1 600-AP city)
land in files of 100 requests. One untimed drain warms the session; each of
``--reps`` timed drains then starts a fresh stream (new sink and checkpoint)
over its own copy of the zone (the stream archives the files it answered)
and is timed from ``start_positioning_stream`` to ``awaitTermination``.
Every drain must answer the same number of requests. Prints ONE JSON line:

    {"metric": "positioning_backfill_drain", "n_requests": N, "answered": A,
     "reps": R, "drain_s": <median>, "drain_s_all": [...],
     "requests_per_s": N / drain_s}

Rates (``--rates 16,32,64,128``, requests per second): perfbench's serving
shape (answerable requests, 2 per file, staged by perfbench's own staging
and landed open-loop by ``perfbench.lander.land``: file ``i`` lands at
``start + i / files_per_s``, however far behind the stream is) for
``--seconds`` at each rate, each rate on a fresh continuous stream after one
warm-up drain. The rates share one session and run in the order given, so
the first runs on the least-compiled JVM. A request's latency runs from its file's due time to its
batch's ``_SUCCESS``; the backlog at each landing is the files landed so
far minus the files answered by then. A rate holds when its p95 is at most
150 ms and its backlog does not grow: the mean backlog over the last
quarter of landings exceeds the first quarter's by at most one file.
Prints ONE JSON line:

    {"metric": "positioning_serving_rates", "seconds": S, "rates": [
      {"rate": R, "files": F, "answered": A, "p50_ms": ..., "p95_ms": ...,
       "backlog_max": ..., "backlog_growth": ..., "lag_ms_max": ...,
       "holds": true|false}, ...],
     "max_rate_held": <the highest rate that holds, or null>}

Usage: python tools/bench_streaming.py [--requests 20000] [--reps 5] [--seed 1]
       python tools/bench_streaming.py --rates 16,32,64,128 [--seconds 12] [--seed 1]
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
SERVE_PER_FILE = 2  # perfbench position_serving's file size
MAX_P95_MS = 150.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--requests", type=int, default=20_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rates", type=lambda v: [float(r) for r in v.split(",")],
                    help="comma-separated request rates (req/s): measure serving at each")
    ap.add_argument("--seconds", type=float, default=12.0, help="landing time per rate")
    args = ap.parse_args()

    from perfbench import gen
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA
    from wifi_location_data_pipeline_spark.session import build_session

    ncpu = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="bench_streaming_")
    spark = build_session(
        app_name="bench-streaming", master=f"local[{ncpu}]", shuffle_partitions=ncpu,
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
        if args.rates:
            result = serve_rates(spark, aps, city, work, args)
        else:
            result = drain_backlog(spark, aps, city, work, args)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def drain_backlog(spark, aps, city, work: str, args) -> dict:
    from perfbench import gen
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

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
    med = statistics.median(walls)
    return {
        "metric": "positioning_backfill_drain",
        "n_requests": len(reqs),
        "answered": answered,
        "reps": len(walls),
        "drain_s": round(med, 3),
        "drain_s_all": [round(w, 3) for w in walls],
        "requests_per_s": round(len(reqs) / med, 1),
    }


def serve_rates(spark, aps, city, work: str, args) -> dict:
    import numpy as np

    from perfbench import gen
    from perfbench.lander import land
    from perfbench.workloads import _answers, _stage_requests
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    warm, _ = gen.make_requests(city, args.seed + 1, 16 * SERVE_PER_FILE, "w")
    _stage_requests(warm, os.path.join(work, "warm"), SERVE_PER_FILE, "warm")
    start_positioning_stream(spark, os.path.join(work, "warm"), aps, os.path.join(work, "warm_out"),
                             os.path.join(work, "warm_ckpt")).awaitTermination()
    rows = []
    for k, rate in enumerate(args.rates):
        files_per_s = rate / SERVE_PER_FILE
        n_files = max(1, int(round(files_per_s * args.seconds)))
        # answerable requests only (no unknown MAC, physics gate passed), so
        # every file gets answers whose commit time is its latency
        reqs, truth = gen.make_requests(city, args.seed + 10 + k, n_files * SERVE_PER_FILE * 11 // 10,
                                        f"s{k}", unknown_frac=0.0, bad_frac=0.0)
        keep = truth["physics_ok"].to_numpy().nonzero()[0][: n_files * SERVE_PER_FILE]
        reqs = [reqs[i] for i in keep]
        staging, zone = os.path.join(work, f"staging{k}"), os.path.join(work, f"zone{k}")
        out, ckpt = os.path.join(work, f"out{k}"), os.path.join(work, f"ckpt{k}")
        _stage_requests(reqs, staging, SERVE_PER_FILE, "req")
        os.makedirs(zone)
        q = start_positioning_stream(spark, zone, aps, out, ckpt, available_now=False)
        # the stream answers on py4j's callback thread while this one lands
        log = land(staging, zone, files_per_s, time.time() + 0.5)
        q.processAllAvailable()
        q.stop()

        due = np.array([e["due"] for e in log])
        landed = np.array([e["landed"] for e in log])
        ans = _answers(out)
        file_of = {r["requestId"]: i // SERVE_PER_FILE for i, r in enumerate(reqs)}
        files = ans["request_id"].map(file_of).to_numpy()
        lat_ms = (ans["committed"].to_numpy() - due[files]) * 1000.0
        done = np.full(len(log), np.inf)
        np.minimum.at(done, files, ans["committed"].to_numpy())
        done.sort()
        backlog = np.array([i + 1 - np.searchsorted(done, t, side="right") for i, t in enumerate(landed)])
        quarter = max(1, len(backlog) // 4)
        growth = float(backlog[-quarter:].mean() - backlog[:quarter].mean())
        p95 = float(np.percentile(lat_ms, 95))
        rows.append({
            "rate": rate,
            "files": len(log),
            "answered": len(ans),
            "p50_ms": round(float(np.percentile(lat_ms, 50)), 1),
            "p95_ms": round(p95, 1),
            "backlog_max": int(backlog.max()),
            "backlog_growth": round(growth, 2),
            "lag_ms_max": round(float((landed - due).max() * 1000.0), 1),
            "holds": bool(p95 <= MAX_P95_MS and growth <= 1.0 and len(ans) == len(reqs)),
        })
    held = [r["rate"] for r in rows if r["holds"]]
    return {
        "metric": "positioning_serving_rates",
        "seconds": args.seconds,
        "rates": rows,
        "max_rate_held": max(held) if held else None,
    }


if __name__ == "__main__":
    main()
