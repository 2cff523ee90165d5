"""Runnable job entry points — the operational surface of the engine.

The reference runs five long-lived services; here each dataflow is a job you
launch with spark-submit / python -m. One logical job per reference service
(SURVEY.md §3):

    python -m wifi_location_data_pipeline_spark.jobs transform \
        --raw-zone /data/raw --table /lake/wifi_measurements
    python -m wifi_location_data_pipeline_spark.jobs transform-stream \
        --raw-zone /data/raw --table /lake/wifi_measurements --checkpoint /ckpt
    python -m wifi_location_data_pipeline_spark.jobs quality \
        --table /lake/wifi_measurements --out /lake/wifi_measurements_clean
    python -m wifi_location_data_pipeline_spark.jobs localize \
        --table /lake/wifi_measurements_clean --ap-table /lake/wifi_access_points
    python -m wifi_location_data_pipeline_spark.jobs localize \
        --table /lake/wifi_measurements_clean --ap-table /lake/wifi_access_points_v2 \
        --prior-state /lake/wifi_access_points
    python -m wifi_location_data_pipeline_spark.jobs position \
        --requests /in/requests.json --ap-table /lake/wifi_access_points \
        --out /out/positions

`transform`  = wifi-measurements-transformer-service (batch backfill)
`transform-stream` = the same job as a Structured Streaming ingest
`quality`    = the outlier/hotspot batch (stubbed computation module, per
               FRAMEWORK doc): MAD flags + behavioral hotspot DELETE
`localize`   = wifi-access-point-localization: maturity-tiered WCL/MLE +
               Kalman fusion against the existing AP state
`position`   = wifi-positioning-service: the 6-algorithm ensemble over a
               batch of requests (one-pass plan)
`dedup`      = training-data surface: near-dup pairs (exact/ngram/minhash/
               simhash/embedding) or cluster assignment over a documents dir
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _session(app: str) -> SparkSession:
    from wifi_location_data_pipeline_spark.session import build_session

    return build_session(app_name=app)


def job_transform(args: argparse.Namespace) -> None:
    from wifi_location_data_pipeline_spark.operators.transform import (
        transform_documents,
        write_measurements,
    )
    from wifi_location_data_pipeline_spark.sources.raw_scan import read_raw_scan_documents

    spark = _session("transform")
    docs = read_raw_scan_documents(spark, args.raw_zone)
    write_measurements(transform_documents(docs), args.table, mode=args.mode)
    print(f"wrote {args.table}")


def job_transform_stream(args: argparse.Namespace) -> None:
    from wifi_location_data_pipeline_spark.streaming.ingest import start_ingest

    spark = _session("transform-stream")
    q = start_ingest(
        spark,
        args.raw_zone,
        args.table,
        args.checkpoint,
        trigger_seconds=args.trigger_seconds,
        available_now=args.available_now,
    )
    q.awaitTermination()


def job_quality(args: argparse.Namespace) -> None:
    from wifi_location_data_pipeline_spark.operators.hotspot import (
        behavioral_hotspot_bssids,
        delete_hotspot_rows,
    )
    from wifi_location_data_pipeline_spark.operators.outliers import flag_global_outliers

    spark = _session("quality")
    m = spark.read.parquet(args.table)
    flagged = flag_global_outliers(m, algorithm=args.algorithm)
    cleaned = delete_hotspot_rows(flagged, behavioral_hotspot_bssids(flagged))
    cleaned.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")


def _conform_ap_dimension(estimates):
    """AP location estimates, or the Kalman-fused AP state with its
    altitude and confidence → the wifi_access_points dimension layout
    (WifiAccessPoint.java:21-52): geohash index column included so the
    positioning service's GSI-equivalent predicates work."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.functions.geo import geohash

    return estimates.select(
        F.col("bssid").alias("mac_addr"),
        F.lit("1").alias("version"),
        "latitude",
        "longitude",
        "altitude",
        "horizontal_accuracy",
        F.lit(None).cast("double").alias("vertical_accuracy"),
        "confidence",
        F.lit(None).cast("string").alias("ssid"),
        F.lit(None).cast("int").alias("frequency"),
        F.lit(None).cast("string").alias("vendor"),
        F.lit("active").alias("status"),
        geohash(F.col("latitude"), F.col("longitude")).alias("geohash"),
    )


def job_localize(args: argparse.Namespace) -> None:
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.operators.localization import (
        kalman_update,
        localize_all,
    )

    spark = _session("localize")
    m = spark.read.parquet(args.table)
    if not args.prior_state:
        _conform_ap_dimension(localize_all(m)).write.mode("overwrite").parquet(args.ap_table)
        print(f"wrote {args.ap_table}")
        return
    # the prior AP table as Kalman state: variance = horizontal accuracy²,
    # the inverse of the sqrt this job writes
    prior_aps = spark.read.parquet(args.prior_state).withColumnRenamed("mac_addr", "bssid")
    prior = prior_aps.select(
        "bssid", "latitude", "longitude", F.pow("horizontal_accuracy", 2).alias("p_var_m2")
    )
    # the estimates feed the Kalman step and the attribute join: run the
    # numeric tier once
    estimates = localize_all(m, prior_state=prior).persist()
    try:
        fused = kalman_update(
            prior, estimates.select("bssid", "latitude", "longitude", "horizontal_accuracy")
        )
        z_attrs = estimates.select(
            "bssid", F.col("altitude").alias("z_alt"), F.col("confidence").alias("z_conf")
        )
        # altitude and confidence: this batch's estimate, else the prior record's
        state = (
            fused.join(z_attrs, "bssid", "left")
            .join(prior_aps.select("bssid", "altitude", "confidence"), "bssid", "left")
            .select(
                "bssid",
                "latitude",
                "longitude",
                F.coalesce("z_alt", "altitude").alias("altitude"),
                F.sqrt("p_var_m2").alias("horizontal_accuracy"),
                F.coalesce("z_conf", "confidence").alias("confidence"),
            )
        )
        _conform_ap_dimension(state).write.mode("overwrite").parquet(args.ap_table)
    finally:
        estimates.unpersist()
    print(f"wrote {args.ap_table}")


def job_position(args: argparse.Namespace) -> None:
    from wifi_location_data_pipeline_spark.positioning.onepass import (
        position_requests_onepass,
    )
    from wifi_location_data_pipeline_spark.schemas import POSITIONING_REQUEST_SCHEMA

    spark = _session("position")
    requests = spark.read.schema(POSITIONING_REQUEST_SCHEMA).json(args.requests)
    aps = spark.read.parquet(args.ap_table)
    # --reasons mirrors the API's calculationDetail=true response: the
    # CalculationInfo selectionInfo diagnostics (algorithm, selected,
    # weight, verbatim reason strings) ride along per request
    out = position_requests_onepass(requests, aps, with_reasons=args.reasons)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")


def job_dedup(args: argparse.Namespace) -> None:
    """Corpus deduplication over a documents table (training-data surface).

    --data-dir holds documents.parquet (and embeddings.parquet for the
    embedding method) — the corpus layout. The registry query functions
    resolve tables through the session's registered views, so the job
    registers exactly the tables it has and marks the view memo
    (sources.tables.register_views then no-ops instead of demanding the
    full ten-table corpus)."""
    from wifi_location_data_pipeline_spark.plans.queries import QUERIES

    spark = _session("dedup")
    import os as _os

    spark.read.parquet(_os.path.join(args.data_dir, "documents.parquet")).createOrReplaceTempView(
        "documents"
    )
    emb_path = _os.path.join(args.data_dir, "embeddings.parquet")
    if _os.path.exists(emb_path):
        spark.read.parquet(emb_path).createOrReplaceTempView("embeddings")
    spark._graft_views_sf_dir = args.data_dir  # register_views() memo: no-op

    name = {
        "exact": "dedup_exact",
        "ngram": "dedup_ngram_jaccard",
        "minhash": "dedup_minhash_lsh",
        "simhash": "dedup_simhash",
        "embedding": "dedup_embedding_cosine",
        "clusters": "dedup_clusters",
    }[args.method]
    out = QUERIES[name].spark(spark, args.data_dir)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out} ({args.method})")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="wifi_location_data_pipeline_spark.jobs")
    sub = p.add_subparsers(dest="job", required=True)

    t = sub.add_parser("transform", help="raw zone -> wifi_measurements (batch)")
    t.add_argument("--raw-zone", required=True)
    t.add_argument("--table", required=True)
    t.add_argument("--mode", default="append")
    t.set_defaults(fn=job_transform)

    ts = sub.add_parser("transform-stream", help="raw zone -> wifi_measurements (streaming)")
    ts.add_argument("--raw-zone", required=True)
    ts.add_argument("--table", required=True)
    ts.add_argument("--checkpoint", required=True)
    ts.add_argument("--trigger-seconds", type=int, default=5)
    ts.add_argument("--available-now", action="store_true")
    ts.set_defaults(fn=job_transform_stream)

    q = sub.add_parser("quality", help="outlier flags + hotspot delete")
    q.add_argument("--table", required=True)
    q.add_argument("--out", required=True)
    q.add_argument("--algorithm", default="MAD", choices=("MAD", "IQR", "PERCENTILE"))
    q.set_defaults(fn=job_quality)

    l = sub.add_parser("localize", help="maturity-tiered AP localization + Kalman merge")
    l.add_argument("--table", required=True)
    l.add_argument("--ap-table", required=True)
    l.add_argument(
        "--prior-state",
        default=None,
        help="the wifi_access_points table an earlier localize wrote (a path other than"
        " --ap-table): BAYESIAN-tier APs run MAP against it, and every estimate is"
        " Kalman-fused with it, horizontal_accuracy² as the prior variance",
    )
    l.set_defaults(fn=job_localize)

    dd = sub.add_parser("dedup", help="corpus dedup: pairs or clusters over documents")
    dd.add_argument("--data-dir", required=True, help="dir with documents.parquet (+ embeddings.parquet)")
    dd.add_argument("--out", required=True)
    dd.add_argument(
        "--method",
        default="minhash",
        choices=("exact", "ngram", "minhash", "simhash", "embedding", "clusters"),
    )
    dd.set_defaults(fn=job_dedup)

    pos = sub.add_parser("position", help="positioning ensemble over request JSON")
    pos.add_argument("--requests", required=True)
    pos.add_argument("--ap-table", required=True)
    pos.add_argument("--out", required=True)
    pos.add_argument(
        "--reasons",
        action="store_true",
        help="attach CalculationInfo selection reasons (calculationDetail=true)",
    )
    pos.set_defaults(fn=job_position)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
