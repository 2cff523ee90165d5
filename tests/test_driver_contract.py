"""Regression tests for the driver contract (__spark_entry__).

Round-1 postmortem: every CORRECTNESS row failed because the driver harness
builds its own *vanilla* SparkSession, and the engine's parquet loading
depended on a builder-time session conf that the harness never set. These
tests reproduce the driver's environment exactly — a bare session in a fresh
process — so the contract can never silently depend on builder-session
config again. (The current corpus stores TIMESTAMP(MICROS) which any session
reads natively; the fresh-process test still guards the general contract.)
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_run_on_vanilla_session_in_fresh_process():
    """A bare SparkSession.builder.getOrCreate() must run registry queries."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[2]")
            .appName("vanilla-driver-sim")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        import __spark_entry__ as e

        qs = e.queries()
        # events-table query (timestamp handling) + one plain-table query.
        for name in ("timestamp_sanity", "per_ap_stats"):
            df = qs[name](spark, "/root/testdata/sf0.001")
            n = df.count()
            assert n >= 0, name
            print("OK", name, n)
        spark.stop()
        """
    ).format(repo=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "OK timestamp_sanity" in proc.stdout
    assert "OK per_ap_stats" in proc.stdout


def test_loader_reads_events_on_foreign_session(spark, sf_dir):
    """load_table must work on a session the engine did not build."""
    from pyspark.sql.types import TimestampNTZType

    from wifi_location_data_pipeline_spark.sources import tables

    s2 = spark.newSession()
    df = tables.load_table(s2, sf_dir, "events")
    assert df.count() > 0
    # Corpus timestamps must come back timezone-free so oracle comparisons
    # never depend on the caller session's timezone.
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)


def test_service_plan_cache_reuse_is_value_stable(spark, sf_dir):
    """QueryDef.service plan reuse: a cache hit after clearCache() must
    re-execute from the scans and produce identical values (the plan is a
    corpus_memo entry, which re-arms persisted values on a hit)."""
    from wifi_location_data_pipeline_spark import corpus_memo
    from wifi_location_data_pipeline_spark.plans import queries as Q

    name = "ensemble_closed_form"
    q = Q.QUERIES[name]
    assert q.service

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    first = rows(q.spark(spark, sf_dir))
    key = (f"plan:{name}", spark.sparkContext.applicationId, sf_dir)
    assert key in corpus_memo._MEMO
    gen, cached_df, _ = corpus_memo._MEMO[key]
    assert gen == corpus_memo.fingerprint(sf_dir)

    spark.catalog.clearCache()
    again = q.spark(spark, sf_dir)
    assert again is cached_df  # the analyzed plan was reused
    assert rows(again) == first

    # the full ensemble (Python numeric tier) must also give identical
    # values after clearCache
    pname = "positioning_ensemble"
    p = Q.QUERIES[pname]
    pfirst = rows(p.spark(spark, sf_dir))
    spark.catalog.clearCache()
    assert rows(p.spark(spark, sf_dir)) == pfirst


def test_fixture_shapes():
    """The window-free request fixtures (plans.queries.users_cte) enumerate
    user_id 0..MAX(user_id); that equals the event-table user population
    exactly iff the driver's user ids are DENSE 0..N-1 — assert it at every
    shipped SF so a corpus change that breaks the assumption fails loudly
    here instead of silently shifting every positioning-family result."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        mx, nd, nn = con.execute(
            "SELECT MAX(user_id), COUNT(DISTINCT user_id),"
            " SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"
            f" FROM read_parquet('/root/testdata/{sf}/events.parquet')"
        ).fetchone()
        assert nn == 0, sf
        assert nd == mx + 1, (sf, mx, nd)  # dense 0..N-1
        # streaming_dedup_counts keeps one copy per event_id and its oracle
        # groups the survivors by event_type: only sound when event_id is
        # globally UNIQUE (otherwise the kept copy's type would be racy)
        n, ndist = con.execute(
            "SELECT COUNT(*), COUNT(DISTINCT event_id)"
            f" FROM read_parquet('/root/testdata/{sf}/events.parquet')"
        ).fetchone()
        assert n == ndist, (sf, n, ndist)


def test_events_footer_max_matches_scan_max(spark):
    """plans.queries._fold_events_stats folds `(SELECT MAX(user_id) FROM
    events)` into a literal read from the parquet footer min/max stats (the
    same stats DuckDB answers the scalar from). Assert footer-max == true
    scan-max at every shipped SF so a corpus writer that ever emitted
    truncated/absent stats would fail here instead of silently shifting the
    request-population size."""
    import duckdb

    from wifi_location_data_pipeline_spark.plans.queries import (
        _events_max_user_id,
        _fold_events_stats,
    )

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        (true_max,) = con.execute(
            f"SELECT MAX(user_id) FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()
        assert _events_max_user_id(spark, sf_dir) == true_max, sf
        folded = _fold_events_stats(
            spark, sf_dir, "SELECT (SELECT MAX(user_id) FROM events) AS m"
        )
        assert folded == f"SELECT CAST({true_max} AS BIGINT) AS m", sf
    # a corpus dir without events.parquet keeps the subquery untouched
    assert _fold_events_stats(
        spark, "/nonexistent", "SELECT (SELECT MAX(user_id) FROM events) AS m"
    ) == "SELECT (SELECT MAX(user_id) FROM events) AS m"


def test_events_footer_ts_minmax_matches_scan(spark):
    """Mirror of the MAXUID pin for the time-split midpoint fold:
    plans.queries._fold_events_stats replaces `(SELECT mid_s FROM split)`
    with ((MIN_s + MAX_s) / 2.0) where MIN_s/MAX_s come from the parquet
    footer ts statistics floored to whole epoch seconds. The fold's
    exactness premise is that FLOOR-to-seconds is monotone, so footer
    min/max floor to the same BIGINTs the in-plan
    MIN(FLOOR(epoch(ts)))/MAX(FLOOR(epoch(ts))) aggregate produces. Assert
    that per shipped corpus, so a future corpus writer with truncated or
    absent ts stats fails loudly here instead of only via the runtime
    fallback."""
    import duckdb

    from wifi_location_data_pipeline_spark.plans.queries import (
        _events_ts_minmax_s,
        _fold_events_stats,
    )

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        true_mn, true_mx = con.execute(
            "SELECT MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)),"
            " MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))"
            f" FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()
        assert _events_ts_minmax_s(spark, sf_dir) == (true_mn, true_mx), sf
        folded = _fold_events_stats(
            spark, sf_dir, "SELECT (SELECT mid_s FROM split) AS m"
        )
        assert folded == (
            f"SELECT ((CAST({true_mn} AS BIGINT) + CAST({true_mx} AS BIGINT))"
            " / CAST(2.0 AS DOUBLE)) AS m"
        ), sf
    # a corpus dir without events.parquet keeps the subquery untouched
    assert _fold_events_stats(
        spark, "/nonexistent", "SELECT (SELECT mid_s FROM split) AS m"
    ) == "SELECT (SELECT mid_s FROM split) AS m"


def test_emb_head_vectors_matches_scan():
    """plans.llm_queries._emb_head_vectors reads the ANN family's bounded
    seed/query vector sets (vec_id < n) driver-side with pyarrow instead of
    scheduling a Spark job. Assert the pyarrow read equals a full-scan
    filter at every shipped SF — ids ascending and float64-widened values
    bit-identical — so a corpus writer whose row-group layout or type ever
    changed the lookup's result would fail here instead of silently
    shifting every ANN query."""
    import duckdb
    import numpy as np

    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        _emb_head_vectors,
    )

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for n in (4, 8, 10):
            ids, Q = _emb_head_vectors(f"/root/testdata/{sf}", n)
            rows = con.execute(
                "SELECT vec_id, embedding FROM"
                f" read_parquet('/root/testdata/{sf}/embeddings.parquet')"
                f" WHERE vec_id < {n} ORDER BY vec_id"
            ).fetchall()
            assert list(ids) == [r[0] for r in rows], (sf, n)
            want = np.array([r[1] for r in rows], dtype=np.float64)
            assert Q.shape == want.shape and (Q == want).all(), (sf, n)


def test_hll_sketch_error_bound():
    """The HLL estimate's relative error for p=8 should sit within ~3
    standard errors (3 * 1.04 / sqrt(256) ~ 19.5%) of the true distinct
    count on every AP group at every shipped SF — a property check on the
    estimator itself, on top of the cross-engine value gate (which proves
    both engines compute the SAME estimate, not that the estimate is
    GOOD)."""
    import duckdb

    from wifi_location_data_pipeline_spark.plans.queries import QUERIES

    sql = QUERIES["hll_distinct_sketch"].oracle()
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM"
            f" read_parquet('/root/testdata/{sf}/events.parquet')"
        )
        rows = con.execute(sql).fetchall()
        assert rows, sf
        for ap_id, n_present, true_distinct, raw, est in rows:
            assert 1 <= n_present <= 256, (sf, ap_id)
            rel = abs(est / true_distinct - 1.0)
            assert rel <= 0.195, (sf, ap_id, est, true_distinct, rel)
