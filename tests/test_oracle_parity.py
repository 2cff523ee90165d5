"""Oracle-parity net for registry entries parked beyond the external
correctness gate's 50-entry window.

The gate value-checks only the first 50 ``queries()`` entries, so the
oracle-bearing queries in ``plans.queries._TAIL`` would otherwise lose their
value-level verification. This test runs each of them on Spark AND its DuckDB
oracle at sf0.001 and compares row count, columns, and values — the same
comparison ``tools/check_correctness.py`` implements.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_correctness import TABLES, compare  # noqa: E402

from wifi_location_data_pipeline_spark.plans.queries import _TAIL, QUERIES  # noqa: E402

TAIL_WITH_ORACLE = [n for n in _TAIL if QUERIES[n].sql is not None]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_registry_window_invariant():
    """Every entry inside the gate's 50-entry window must carry an oracle."""
    names = list(QUERIES)
    head = names[:50]
    assert all(QUERIES[n].sql is not None for n in head)
    assert set(_TAIL) == set(names[len(names) - len(_TAIL):])


def test_bm25_twin_matches_declared_sql(spark, sf_dir, monkeypatch):
    """The tokenize-once spark twin must reproduce the declared SQL exactly.

    The twin only engages above _BM25_TWIN_MIN_BYTES of documents (below it
    the saved tokenize is smaller than its extra job round), so the test
    corpus would exercise only the SQL fallback — force the twin on and
    compare both paths row-for-row, bm25 scores included (the twin folds the
    driver-collected corpus stats back as integer literals; the identical
    IEEE op sequence must survive that folding)."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L
    from wifi_location_data_pipeline_spark.plans.dialect import DOCS_SPREAD_TOKEN
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    monkeypatch.setattr(L, "_BM25_TWIN_MIN_BYTES", 0)
    twin = L._bm25_spark_fn(spark, sf_dir).collect()
    sql_text = L._bm25_sql("spark").replace(
        DOCS_SPREAD_TOKEN, L.spread_documents_src(spark, sf_dir)
    )
    declared = spark.sql(sql_text).collect()
    assert [tuple(r) for r in twin] == [tuple(r) for r in declared]


def test_collocations_bounded_matches_small(spark, sf_dir, monkeypatch):
    """ngram_collocations' at-scale bounded-collect branch must reproduce
    the small-corpus one-job branch exactly.

    Above _COLL_BOUNDED_MIN_BYTES of documents the query bounds its driver
    collects to the top-20's tokens (+ NULL-group complements carrying the
    global totals) instead of pulling the whole vocabulary; the totals and
    per-token counts it derives must be the same integers, so the PMI
    VALUES literal — and every output row — must match the small branch
    bit-for-bit."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    small = L._collocations_fn(spark, sf_dir).collect()
    monkeypatch.setattr(L, "_COLL_BOUNDED_MIN_BYTES", 0)
    bounded = L._collocations_fn(spark, sf_dir).collect()
    assert [tuple(r) for r in bounded] == [tuple(r) for r in small]
    assert len(small) > 0  # the corpus must actually exercise the fold


def test_strategy_agreement_fused_matches_two_pipeline(spark, sf_dir, monkeypatch):
    """dedup_strategy_agreement's at-scale fused verify (union candidates
    with provenance flags, verify the exact-Jaccard predicate once) must
    reproduce the two-pipeline full-outer form exactly: a pair verified
    >= 0.8 was found by a strategy iff it was that strategy's candidate,
    so every count and recall must match bit-for-bit."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    # the fused branch also needs the array-verify regime: assert the fixture
    # is in it, so forcing the size crossover really runs both branches
    _, _, n_cand = L._ngram_jaccard_parts(
        spark, sf_dir, L.minhash_signature_table(spark, sf_dir)
    )
    assert n_cand <= L.NGRAM_ARRAY_VERIFY_MAX_PAIRS
    monkeypatch.setattr(L, "_AGREE_FUSED_MIN_BYTES", 1 << 60)  # force two-pipeline
    two = L._strategy_agreement_spark_fn(spark, sf_dir).collect()
    monkeypatch.setattr(L, "_AGREE_FUSED_MIN_BYTES", 0)  # force fused
    fused = L._strategy_agreement_spark_fn(spark, sf_dir).collect()
    assert [tuple(r) for r in fused] == [tuple(r) for r in two]
    assert two[0].n_union > 0  # the corpus must actually exercise both paths


@pytest.mark.parametrize("name", TAIL_WITH_ORACLE)
def test_tail_query_matches_oracle(name, spark, sf_dir, duck):
    from pyspark.sql.types import DecimalType

    q = QUERIES[name]
    out = q.spark(spark, sf_dir)
    # the external driver's hash includes the rendered type: DecimalType
    # output fails it even when values match the DOUBLE oracle
    dec = [f.name for f in out.schema.fields if isinstance(f.dataType, DecimalType)]
    assert not dec, f"{name}: DecimalType output columns {dec}"
    spark_pdf = out.toPandas()
    duck_pdf = duck.execute(q.oracle()).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"
