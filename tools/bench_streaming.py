"""Streaming positioning latency bench.

Measures the §3.2 online request/response loop (streaming/positioning.py)
against the reference's latency envelope — p95 ≤ 150 ms added latency per
sync call, 800 ms hard timeout, 1–20 scans per request
(wifi-positioning-integration-service/documents/integration-requirements.md:333,
BASELINE.md rows 1–3). A micro-batch engine doesn't answer one request per
call; the comparable figures are per-BATCH service time and per-REQUEST
amortized latency at a given arrival batch size.

Method: N_FILES request files × BATCH_REQUESTS requests each land in a zone;
`start_positioning_stream(available_now=True)` drains them through the REAL
one-pass ensemble, planned once for the stream (cached AP lookup broadcast
per micro-batch, with_reasons diagnostics on).
`maxFilesPerTrigger=1` makes each file one micro-batch, so recentProgress
yields one batchDuration sample per file. Prints ONE JSON line:

    {"metric": "streaming_positioning_latency", "batches": K,
     "p50_batch_ms": ..., "p95_batch_ms": ..., "requests_per_sec": ...,
     "ms_per_request": ..., "n_requests": N}

Usage: python tools/bench_streaming.py [--requests 100] [--files 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--requests", type=int, default=96, help="requests per file")
    ap.add_argument("--files", type=int, default=8, help="micro-batches")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.session import build_session
    from wifi_location_data_pipeline_spark.streaming.positioning import (
        start_positioning_stream,
    )

    # serving-tuned session: a dedicated request-serving deployment sizes
    # its session for SMALL bounded batches — AQE's per-stage re-plan adds
    # pure latency when every stage holds a few hundred rows (the stream's
    # plan has no shuffle to size). Batch/ETL sessions keep the engine
    # defaults.
    spark = build_session(
        app_name="bench-streaming",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )

    # 50-AP dimension on a lattice (same synthetic layout as the batch
    # ensemble queries); requests observe 1..8 of them
    def mac(i: int) -> str:
        return "02:00:00:00:%02x:%02x" % (i // 256, i % 256)

    aps = [
        {
            "mac_addr": mac(i), "version": "1",
            "latitude": 40.0 + i * 0.01,
            "longitude": -74.0 + (i * 7 % 50) * 0.01,
            "altitude": 10.0, "horizontal_accuracy": 10.0,
            "vertical_accuracy": 5.0, "confidence": 0.8, "ssid": f"ap-{i}",
            "frequency": 2437, "vendor": ["cisco", "aruba", "ubiquiti", "generic"][i % 4],
            "status": "active", "geohash": None,
        }
        for i in range(50)
    ]
    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA

    ap_df = spark.createDataFrame(aps, WIFI_ACCESS_POINTS_SCHEMA).cache()
    ap_df.count()

    def request(rid: int) -> dict:
        n_obs = 1 + rid % 8
        return {
            "requestId": f"r{rid}",
            "client": "bench", "application": "bench-streaming",
            "calculationDetail": True,
            "wifiScanResults": [
                {
                    "macAddress": mac((rid * 13 + j * 7) % 50),
                    "signalStrength": -45.0 - ((rid * 3 + j * 11) % 50),
                    "frequency": 2437, "ssid": "b",
                    "linkSpeed": None, "channelWidth": None,
                }
                for j in range(n_obs)
            ],
        }

    work = tempfile.mkdtemp(prefix="bench_stream_")
    zone = os.path.join(work, "zone")
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(zone)
    rid = 0
    for f in range(args.files):
        with open(os.path.join(zone, f"batch{f:03d}.json"), "w") as fh:
            for _ in range(args.requests):
                fh.write(json.dumps(request(rid)) + "\n")
                rid += 1

    # warm the Python worker pool so batch 1 doesn't bill worker fork+import
    def _noop(b):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from b

    spark.range(0, spark.sparkContext.defaultParallelism, 1,
                spark.sparkContext.defaultParallelism).mapInPandas(_noop, "id long").count()

    t0 = time.perf_counter()
    q = start_positioning_stream(
        spark, zone, ap_df, out, ckpt,
        with_reasons=True, available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    wall = time.perf_counter() - t0

    answered = spark.read.parquet(out).count()
    durations = sorted(
        p["batchDuration"] for p in (q.recentProgress or []) if p.get("numInputRows")
    )

    def pct(p: float) -> float:
        if not durations:
            return float("nan")
        i = min(len(durations) - 1, int(round(p * (len(durations) - 1))))
        return float(durations[i])

    n_req = args.requests * args.files
    result = {
        "metric": "streaming_positioning_latency",
        "unit": "ms",
        "n_requests": n_req,
        "n_answered": answered,
        "batches": len(durations),
        "batch_requests": args.requests,
        "p50_batch_ms": pct(0.50),
        "p95_batch_ms": pct(0.95),
        "wall_clock_sec": round(wall, 3),
        "requests_per_sec": round(answered / wall, 1) if wall > 0 else None,
        "ms_per_request": round(1000.0 * wall / max(1, answered), 2),
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
