"""corpus_memo contract: one keyed memo for corpus-derived state.

For each value kind (persisted DataFrame, cached temp view, plain value):
a hit returns the same object, a hit after ``spark.catalog.clearCache()``
is cached again, and an in-place corpus rewrite (new fingerprint) releases
the superseded value before rebuilding.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import corpus_memo
from wifi_location_data_pipeline_spark.corpus_memo import memo


@pytest.fixture()
def corpus(tmp_path, sf_dir):
    """A private copy of the test corpus, safe to rewrite in place."""
    d = tmp_path / "corpus"
    d.mkdir()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copyfile(os.path.join(sf_dir, f), d / f)
    return str(d)


def _rewrite_in_place(sf_dir):
    path = os.path.join(sf_dir, "documents.parquet")
    docs = pq.read_table(path)
    pq.write_table(docs.slice(0, docs.num_rows // 2), path)


def _docs(spark, sf_dir, gen):
    # the build number is in the plan, so each generation's relation is a
    # distinct cache entry and storageLevel reads exactly that entry
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id")
        .withColumn("gen", F.lit(gen))
    )


def test_persisted_dataframe(spark, corpus):
    built = []

    def build():
        built.append(_docs(spark, corpus, len(built)).persist(StorageLevel.DISK_ONLY))
        return built[-1]

    df = memo(spark, corpus, "test:df", build)
    assert memo(spark, corpus, "test:df", build) is df
    assert df.storageLevel == StorageLevel.DISK_ONLY

    spark.catalog.clearCache()
    assert df.storageLevel == StorageLevel.NONE
    assert memo(spark, corpus, "test:df", build) is df
    assert df.storageLevel == StorageLevel.DISK_ONLY  # re-armed at its level

    _rewrite_in_place(corpus)
    df2 = memo(spark, corpus, "test:df", build)
    assert df2 is not df and len(built) == 2
    assert df.storageLevel == StorageLevel.NONE  # superseded: unpersisted
    assert df2.storageLevel == StorageLevel.DISK_ONLY
    df2.unpersist()


def test_cached_view(spark, corpus):
    built = []

    def build():
        name = f"_corpus_memo_test_{len(built)}"
        _docs(spark, corpus, len(built)).createOrReplaceTempView(name)
        spark.catalog.cacheTable(name)
        built.append(name)
        return name

    view = memo(spark, corpus, "test:view", build)
    assert memo(spark, corpus, "test:view", build) is view
    assert spark.catalog.isCached(view)

    spark.catalog.clearCache()
    assert not spark.catalog.isCached(view)
    assert memo(spark, corpus, "test:view", build) is view
    assert spark.catalog.isCached(view)  # re-armed

    _rewrite_in_place(corpus)
    view2 = memo(spark, corpus, "test:view", build)
    assert view2 != view and len(built) == 2
    names = {t.name for t in spark.catalog.listTables()}
    assert view not in names and view2 in names  # superseded view dropped
    assert spark.catalog.isCached(view2)
    spark.catalog.dropTempView(view2)


def test_plain_value(spark, corpus):
    built = []

    def build():
        built.append({"build": len(built)})
        return built[-1]

    value = memo(spark, corpus, "test:plain", build)
    assert memo(spark, corpus, "test:plain", build) is value
    spark.catalog.clearCache()
    assert memo(spark, corpus, "test:plain", build) is value
    assert len(built) == 1

    _rewrite_in_place(corpus)
    assert memo(spark, corpus, "test:plain", build) == {"build": 1}
    assert [k for k in corpus_memo._MEMO if k[0] == "test:plain"] == [
        ("test:plain", spark.sparkContext.applicationId, corpus)
    ]  # one entry per (name, app, sf_dir): the superseded value is gone


def test_no_bespoke_memos_in_plans_or_sources():
    """Keying on the Spark application is corpus_memo's job: a module under
    plans/ or sources/ that reads applicationId is growing its own memo."""
    pkg = os.path.dirname(corpus_memo.__file__)
    offenders = [
        os.path.relpath(p, pkg)
        for sub in ("plans", "sources")
        for p in sorted(glob.glob(os.path.join(pkg, sub, "*.py")))
        if "applicationId" in open(p).read()
    ]
    assert offenders == []
