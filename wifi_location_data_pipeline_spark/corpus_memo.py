"""One memo for state derived from a corpus: analyzed plans, persisted
relations, temp views and driver-side trained artifacts.

The reference compiles its service dataflow once at startup and treats
trained artifacts (IVF centroids, BPE merges) as persisted; the engine
mirrors that by reusing such state across invocations on one Spark
application and corpus. ``memo`` owns the three decisions every reuse needs:

- key: (name, application id, ``sf_dir``), with ``fingerprint(sf_dir)`` as
  the generation, so a corpus regenerated in place at the same path misses
  and rebuilds from a fresh file listing;
- release: a generation change releases the superseded value before the
  rebuild. A DataFrame is unpersisted, a ``str`` value is a temp view name
  and is dropped with ``dropTempView`` (which also uncaches it), and any
  other value is simply dropped;
- re-arm: ``spark.catalog.clearCache()`` drops every cache registration, so
  a hit re-persists a value that was persisted when it was built (for a
  view name, the view's relation) at its build-time storage level.
  Without that, every consumer of the hit would silently recompute it
  uncached. ``persist`` is a no-op while the registration still stands.

Values built under different ``sf_dir`` coexist, so a session alternating
between corpora keeps one entry per directory.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# (name, application id, sf_dir) -> (generation, value, storage level at build)
_MEMO: dict[tuple, tuple[tuple, Any, StorageLevel]] = {}


def fingerprint(sf_dir: str) -> tuple:
    """(name, mtime_ns, size) of each parquet entry in ``sf_dir``: a few stat
    calls, and it changes whenever any table of the corpus is rewritten."""
    try:
        return tuple(
            (e.name, e.stat().st_mtime_ns, e.stat().st_size)
            for e in sorted(os.scandir(sf_dir), key=lambda e: e.name)
            if e.name.endswith(".parquet")
        )
    except OSError:
        return ()


def _relation(spark: SparkSession, value: Any) -> DataFrame | None:
    if isinstance(value, DataFrame):
        return value
    if isinstance(value, str):
        return spark.table(value)
    return None


def memo(spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]) -> Any:
    """Return ``build()``'s value for (``name``, this application, ``sf_dir``)
    at the corpus's current generation, building it at most once per
    generation (see the module docstring for release and re-arm)."""
    key = (name, spark.sparkContext.applicationId, sf_dir)
    gen = fingerprint(sf_dir)
    entry = _MEMO.get(key)
    if entry is not None:
        built_gen, value, level = entry
        if built_gen == gen:
            if level != StorageLevel.NONE:
                _relation(spark, value).persist(level)
            return value
        del _MEMO[key]
        if isinstance(value, DataFrame):
            value.unpersist()
        elif isinstance(value, str):
            spark.catalog.dropTempView(value)
    value = build()
    rel = _relation(spark, value)
    level = rel.storageLevel if rel is not None else StorageLevel.NONE
    _MEMO[key] = (gen, value, level)
    return value
