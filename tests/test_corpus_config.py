"""configure_for_corpus sizing contract (sources/tables.py).

Small corpora (largest fact table < _SCALE_MODE_MIN_BYTES) run without AQE
on 8 static shuffle partitions — every AQE exchange materializes as its own
scheduled job, pure overhead at single-digit-MB inputs. At-scale corpora
must RESTORE AQE and the session's build-time parallelism, because one
session can visit both (bench runs sf0.1 then the sf1 replica). A stale
restore would silently run the 100 TB path without AQE's skew handling —
this is the regression these tests pin.

Corpus memos (corpus_memo: the CMS counts, the BPE word-frequency view,
the collocation counts) must not accumulate persisted relations across
repeated invocations — the r9 ADVICE leak.
"""

from __future__ import annotations

import os
import shutil

import pytest

from wifi_location_data_pipeline_spark.sources.tables import (
    _SCALE_MODE_MIN_BYTES,
    configure_for_corpus,
)

SMALL = "/root/testdata/sf0.001"


@pytest.fixture()
def at_scale_dir(tmp_path):
    """A corpus dir whose events.parquet crosses the scale threshold.

    Real parquet content is irrelevant — configure_for_corpus only stats
    file sizes — so pad a copy of the small corpus's events file."""
    d = tmp_path / "sfbig"
    d.mkdir()
    src = os.path.join(SMALL, "events.parquet")
    dst = d / "events.parquet"
    shutil.copy(src, dst)
    with open(dst, "ab") as fh:
        fh.write(b"\0" * (_SCALE_MODE_MIN_BYTES + 1 - dst.stat().st_size))
    return str(d)


def test_small_corpus_disables_aqe_and_pins_partitions(spark):
    configure_for_corpus(spark, SMALL)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_at_scale_restores_aqe_and_session_parallelism(spark, at_scale_dir):
    # visit a small corpus first: the restore is what's under test
    configure_for_corpus(spark, SMALL)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    configure_for_corpus(spark, at_scale_dir)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # conftest builds the session with shuffle_partitions=4
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark._graft_default_shuffle_partitions
    )
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == "2MB"
    )
    # and back down again
    configure_for_corpus(spark, SMALL)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_keyed_memos_do_not_accumulate_persisted_relations(spark, sf_dir):
    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        _cms_spark_fn,
        _bpe_apply_fn,
        _collocations_fn,
    )

    jsc = spark.sparkContext._jsc.sc()
    # delta-based so persisted relations left by earlier tests on the
    # shared session fixture can't make this order-dependent (r10 ADVICE)
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        _cms_spark_fn(spark, sf_dir).count()
        _bpe_apply_fn(spark, sf_dir).count()
        _collocations_fn(spark, sf_dir).count()
    # one persisted counts relation each: cms, bpe wf, collocations g
    assert jsc.getPersistentRDDs().size() - before <= 3


@pytest.fixture(scope="module")
def dir_corpus(spark, tmp_path_factory):
    """The small corpus rewritten as Spark-written directory tables: each
    ``<name>.parquet`` a directory of part files plus ``_SUCCESS``."""
    from wifi_location_data_pipeline_spark.sources.tables import TESTDATA_TABLES

    d = tmp_path_factory.mktemp("sf_dirs")
    for name in TESTDATA_TABLES:
        spark.read.parquet(os.path.join(SMALL, f"{name}.parquet")).repartition(
            2
        ).write.parquet(str(d / f"{name}.parquet"))
    return str(d)


def test_directory_tables_probe_and_answer_like_files(spark, dir_corpus, monkeypatch):
    """A directory table is measured by its part files, not by the
    directory's own inode size, and the size-keyed queries answer the same
    on both layouts."""
    from wifi_location_data_pipeline_spark.plans import llm_queries as L
    from wifi_location_data_pipeline_spark.plans.queries import QUERIES
    from wifi_location_data_pipeline_spark.sources.tables import (
        FACT_TABLES,
        table_parts,
        table_probe,
    )

    for name in FACT_TABLES:
        parts = table_parts(os.path.join(dir_corpus, f"{name}.parquet"))
        assert len(parts) >= 2
        assert all(not os.path.basename(p).startswith("_") for p in parts)
        assert os.path.exists(os.path.join(dir_corpus, f"{name}.parquet", "_SUCCESS"))
        f, d = table_probe(SMALL, name), table_probe(dir_corpus, name)
        assert d.rows == f.rows
        assert d.bytes != 4096
        # each part repeats the schema, footer and dictionaries; the codec
        # and encodings may differ from the file's writer
        assert 0.5 * f.bytes < d.bytes < 2 * f.bytes + 16384 * len(parts)

    def rows(name, sf):
        return sorted(map(tuple, QUERIES[name].spark(spark, sf).collect()))

    for name in (
        "bm25_topk",
        "ngram_collocations",
        "dedup_strategy_agreement",
        "dedup_embedding_cosine",
    ):
        assert rows(name, dir_corpus) == rows(name, SMALL), name

    # a bound between the directory inode size and the table's real bytes:
    # collocations must take the bounded (vocabulary-independent) collect
    monkeypatch.setattr(L, "_COLL_BOUNDED_MIN_BYTES", 8192)
    assert table_probe(dir_corpus, "documents").bytes >= 8192
    tap: list = []
    monkeypatch.setattr(L, "_PLAN_TAP", tap)
    L._collocations_fn(spark, dir_corpus).collect()
    assert any("bounded tagged-union" in label for label, _ in tap)
    assert not any("small-corpus" in label for label, _ in tap)
