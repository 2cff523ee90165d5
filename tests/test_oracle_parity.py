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


# Gate queries whose Spark side runs product code, so the DuckDB oracle checks
# what the product runs. Extend this list as gate queries move onto product
# operators; never shrink it.
GATE_ON_PRODUCT = [
    "codec_roundtrip",
    "comparison_scenarios",
    "ensemble_closed_form",
    "position_combiner_robust",
    "selection_reasons",
    "lof_closed_form",
    "dbscan_closed_form",
    "weighted_centroid",
    "wcl_position_error",
    "tiered_localization",
    "mad_outlier_flags",
    "comparison_metrics",
    "selection_matrix",
]
_PKG = "wifi_location_data_pipeline_spark."
_PRODUCT = tuple(_PKG + m + "." for m in ("operators", "positioning", "sources"))
_HARNESS = {_PKG + "sources.tables"}  # registry corpus views, not product code


def _product_refs(fn) -> set[str]:
    """Product modules that ``fn``'s code imports or calls into, following
    nested functions and the plans/ helpers it calls (static: reads the
    bytecode, runs nothing)."""
    import dis
    import types

    refs: set[str] = set()
    seen: set = set()
    todo = [(fn.__code__, fn.__globals__)]
    while todo:
        code, glb = todo.pop()
        if code in seen:
            continue
        seen.add(code)
        todo += [(c, glb) for c in code.co_consts if isinstance(c, types.CodeType)]
        for ins in dis.get_instructions(code):
            if ins.opname == "IMPORT_NAME":
                mod = ins.argval
            elif ins.opname == "LOAD_GLOBAL" and callable(glb.get(ins.argval)):
                target = glb[ins.argval]
                mod = getattr(target, "__module__", "") or ""
                if mod.startswith(_PKG + "plans.") and hasattr(target, "__code__"):
                    todo.append((target.__code__, target.__globals__))
            else:
                continue
            if mod.startswith(_PRODUCT) and mod not in _HARNESS:
                refs.add(mod)
    return refs


@pytest.mark.parametrize("name", GATE_ON_PRODUCT)
def test_gate_query_reaches_product_code(name):
    """The Spark side of each listed gate query must reach operators/,
    positioning/ or sources/ (beyond the corpus views): a query that falls
    back to a registry-only twin would leave the oracle checking code no
    product path runs."""
    fn = QUERIES[name].spark_fn
    assert fn is not None, f"{name} has no Spark function"
    assert _product_refs(fn), f"{name} reaches no product module"


def test_tiered_localization_caps_once(spark, sf_dir):
    """tier_routing and wcl_localize read one per-AP capped frame: the
    executed plan scans events once and runs the cap window's bssid
    exchange once, the second operator branch reusing it (one hash
    exchange, as the single-aggregate oracle SQL has)."""
    import re

    df = QUERIES["tiered_localization"].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-*()\d]*(\w+)", plan, re.M)
    assert nodes.count("FileScan") == 1, plan
    assert len(re.findall(r"^[\s:+\-*()\d]*Exchange hashpartitioning\(bssid", plan, re.M)) == 1, plan
    assert nodes.count("ReusedExchange") == 1, plan


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


def test_ngram_verify_array_matches_join_count(spark, sf_dir, monkeypatch):
    """ngram_jaccard verifies its candidates by array intersection up to
    NGRAM_ARRAY_VERIFY_MAX_PAIRS candidates and by join-count above it.
    Patch the cutoff to either side of the fixture's own candidate count so
    each branch runs, and require the same verified pairs."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    arrs = L.minhash_signature_table(spark, sf_dir)
    parts = L._ngram_jaccard_parts(spark, sf_dir, arrs)
    n_cand = parts[2]
    assert n_cand > 0

    def pairs(cutoff):
        monkeypatch.setattr(L, "NGRAM_ARRAY_VERIFY_MAX_PAIRS", cutoff)
        return sorted(
            tuple(r)
            for r in L._ngram_jaccard_spark_fn(spark, sf_dir, arrs, parts).collect()
        )

    array_form = pairs(n_cand)  # n_cand <= cutoff: array-intersect verify
    join_form = pairs(n_cand - 1)  # n_cand > cutoff: join-count verify
    assert array_form == join_form
    assert array_form  # the fixture must hold verified near-dup pairs


def test_plan_tap_records_explain_or_raises(spark, monkeypatch):
    """The plan tap records the formatted explain, and raises when the
    explain fails: a capture never records a placeholder for a plan it does
    not have."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L

    class _Utils:
        @staticmethod
        def explainString(*_):
            raise RuntimeError("explainString unavailable")

    class _Jvm:
        PythonSQLUtils = _Utils

    class _Sc:
        _jvm = _Jvm()

    tap: list = []
    monkeypatch.setattr(L, "_PLAN_TAP", tap)
    df = spark.range(3)
    L._tap_plan("range", df)
    assert [label for label, _ in tap] == ["range"]
    assert "Range" in tap[0][1]
    # the explain goes through the private explainString call
    monkeypatch.setattr(df, "_sc", _Sc())
    with pytest.raises(RuntimeError, match="explainString unavailable"):
        L._tap_plan("fails", df)
    assert len(tap) == 1


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
