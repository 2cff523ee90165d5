"""Capture .explain("formatted") output for declared queries.

Writes plans/<outdir>/<query>_<tag>.txt for each requested query so plan
claims in OPTIMIZATION notes can be checked without running Spark.

Usage:
  python tools/capture_plans.py --tag after --outdir plans/r11 \
      [--only name,name] [--sf-dir /root/testdata/sf0.01] [--repo /root/repo]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--outdir", required=True)
    ap.add_argument(
        "--repo",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="repo root to import the engine from (a worktree for 'before')",
    )
    ap.add_argument(
        "--cpus",
        default="8",
        help="local core count — plan shapes that depend on scan/spread "
        "sizing (partition counts, fan-out exchanges) follow it; use 32 "
        "to match the bench profile",
    )
    ap.add_argument(
        "--execute",
        action="store_true",
        help="run each query to completion (count) BEFORE capturing, so an "
        "AdaptiveSparkPlan is captured in its FINAL re-optimized form "
        "(AQEShuffleRead coalescing, runtime join rewrites) instead of the "
        "initial isFinalPlan=false shape — the at-scale evidence mode",
    )
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    from wifi_location_data_pipeline_spark.session import build_session
    import __spark_entry__ as entry

    only = {s for s in args.only.split(",") if s}
    os.makedirs(args.outdir, exist_ok=True)
    spark = build_session(
        master=f"local[{args.cpus}]", shuffle_partitions=int(args.cpus)
    )
    # internal-collect plan tap (r11 VERDICT "what's wrong" #6): queries
    # that fold a collected data pass back as a VALUES literal hide that
    # pass from the returned frame's explain; the tap records each hidden
    # job's plan so the capture file covers it too
    tap: list = []
    try:
        from wifi_location_data_pipeline_spark.plans import llm_queries as _lq

        _lq._PLAN_TAP = tap
    except Exception:
        pass
    n = 0
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        tap.clear()
        try:
            df = fn(spark, args.sf_dir)
            if args.execute:
                df.count()
        except Exception as e:  # streaming/demo entries that need staging
            print(f"SKIP {name}: {e}")
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        for label, plan_txt in tap:
            txt += f"\n\n=== internal job: {label} ===\n{plan_txt}"
        out = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(out, "w") as f:
            f.write(txt)
        n += 1
        print(f"WROTE {out}")
    spark.stop()
    print(f"captured {n} plans -> {args.outdir}")


if __name__ == "__main__":
    main()
