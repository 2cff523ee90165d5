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
