"""Training-data pipeline queries: dedup family, similarity search, text
analysis over the synthetic ``documents`` / ``embeddings`` tables.

These extend the reference's surface (SURVEY.md §7 step 9 "scale
extensions") with the operations a large-scale training-data pipeline needs.
Every entry is a dual-dialect SQL template (plans.dialect) so DuckDB verifies
the exact values the Spark plan produces.

Scale notes (the 100 TB design intent, validated at sf0.1 by bench.py):
- Pairwise similarity is NEVER all-pairs: candidate generation is always a
  blocked equi-join (shared shingle / LSH band / SimHash block / hyperplane
  bucket) that Spark executes as a shuffled hash join on the block key, then
  exact verification runs only on candidates.
- All hashes are md5-derived so both dialects (and any retry) agree bit-for-
  bit; no RNG, no session-dependent hash seeds (Spark's ``hash()`` and
  DuckDB's ``hash()`` intentionally avoided).
- Aggregations are algebraic (SUM/MIN/MAX/COUNT) → map-side partial
  aggregation applies everywhere.
"""

from __future__ import annotations

import hashlib
import io
import os
from contextlib import contextmanager, redirect_stdout

from wifi_location_data_pipeline_spark import corpus_memo
from wifi_location_data_pipeline_spark.plans.dialect import (
    SPARK,
    array_double,
    bigint_div,
    docs_table,
    dot,
    hex_to_bigint,
    regexp_count,
    sorted_distinct_words,
    split_words,
    words_with_pos,
    xor_int,
)
from wifi_location_data_pipeline_spark.plans.queries import register
from wifi_location_data_pipeline_spark.sources.tables import load_table, table_probe

# ---------------------------------------------------------------------------
# Shared CTE fragments
# ---------------------------------------------------------------------------


def spread_documents_src(spark, sf_dir, full_fanout: bool = False) -> str:
    """View name for the documents relation with scan parallelism restored.

    The test corpus ships single-row-group parquet, so every documents scan
    is ONE task — and the shingle builders stack CPU-heavy work (split +
    n-gram HOF lambdas + an md5 per shingle) directly on that task. When
    the scan has fewer partitions than the data's CPU work deserves
    (``_SPREAD_TEXT_PER_TASK`` of text per task), register a repartitioned
    view so the projection parallelizes; when the scan is already parallel
    (a multi-row-group file, or a directory table whose part files give it
    the splits), return the plain table and add no shuffle. The shuffle
    moves only the raw text once and is reused by every stage built on top.

    ``full_fanout`` declares the consumer's CPU weight: the md5/shingle
    Arrow kernels (seconds of Python CPU per corpus pass) amortize the
    text exchange even when the scan already has a third of the cores, so
    they repartition unless the scan is within 2x of the target; the
    JVM-side split/explode consumers only repartition when the scan is
    materially under-split (<1/4 of the target) — for them the exchange
    costs more than the marginal cores return (measured at the 10x
    replica: bigram/cms/bpe_merge each ~2x slower THROUGH the exchange
    than riding the 9-way row-group scan).
    """
    from wifi_location_data_pipeline_spark.sources.tables import (
        load_table,
        register_views,
    )

    register_views(spark, sf_dir)

    def build():
        # every consumer is an Arrow kernel (hashlib md5 over
        # shingles/windows — CPU-bound Python), so spread to the full core
        # count as soon as the corpus bytes can feed it
        sz = table_probe(sf_dir, "documents").bytes
        target = min(
            spark.sparkContext.defaultParallelism, sz // _SPREAD_TEXT_PER_TASK + 1
        )
        if target > 1:
            # repartition ONLY when the scan itself is under-split for this
            # consumer class (see docstring). When openCost-driven splitting
            # already hands the scan enough of the target (the multi-row-group
            # 10x replica: 9-13 splits for 32 cores), the round-robin exchange
            # costs more than the marginal cores earn — measured at the
            # replica: the unconditional spread held bigram/tfidf/cms at
            # 1.3-2.0 s in EVERY scan mode while the plain row-group-parallel
            # scan runs 0.6-0.9 s.
            frac = 2 if full_fanout else 4
            scan_parts = load_table(spark, sf_dir, "documents").rdd.getNumPartitions()
            if scan_parts * frac > target:
                target = 1
        # Derive the view NAME from (dir, corpus generation, fan-out): the
        # view pins this generation's file listing at creation, and sessions
        # that alternate between corpora (A -> B -> A) must never get a memo
        # hit for A that returns a name now bound to B's documents — every
        # spread consumer (minhash/shingle/simhash/substring kernels) would
        # silently read the wrong corpus. One name per generation keeps
        # every memoized name permanently correct — ALSO on the
        # no-repartition path: the alias view adds no exchange
        # (plan-identical to the plain table).
        tag = hashlib.md5(
            f"{sf_dir}|{corpus_memo.fingerprint(sf_dir)}|{int(full_fanout)}".encode()
        ).hexdigest()[:12]
        df = load_table(spark, sf_dir, "documents")
        if target <= 1:
            src = f"_documents_plain_{tag}"
            df.createOrReplaceTempView(src)
        else:
            src = f"_documents_spread_{tag}"
            df.repartition(target).createOrReplaceTempView(src)
        return src

    # the view pins the corpus file listing, so it is a corpus memo: an
    # in-place regeneration at the same sf_dir rebuilds it (and drops the
    # superseded view) instead of reading stale data or deleted files
    return corpus_memo.memo(
        spark, sf_dir, f"spread_src:{bool(full_fanout)}", build
    )


# spread fan-out floor: raw text bytes each task should own before the
# repartition adds another. Each Arrow task carries a fixed ~5-10 ms of
# scheduling + serialization, so sub-~50 KB slices cost more than the
# parallel md5 work they buy. Interleaved A/B at sf0.1 (best-of-two runs x
# 4 attempts, 594 KB of documents): the 16 KB floor fans to 32 tasks and
# measures minhash 0.99 / jaccard 1.94 s, the 48 KB floor (13 tasks) 0.85 /
# 1.40 s, with simhash/clusters a tie; 96 KB starts re-serializing jaccard.
# Corpora big enough to cap the target at the core count (the 10x replica
# and up) are unaffected by the floor.
_SPREAD_TEXT_PER_TASK = 48 << 10


# Plan-evidence tap for internal-collect jobs (set by tools/capture_plans.py):
# several queries run data passes whose DataFrames never escape the query fn
# (tagged-union collects folded back as VALUES literals), so the returned
# frame's explain() cannot show them. When a capture run sets _PLAN_TAP to a
# list, each such site records (label, formatted plan) for the hidden job so
# the plan audit covers it. None (the default) is zero-overhead.
_PLAN_TAP: list | None = None


def _tap_plan(label: str, df) -> None:
    """Record ``df``'s formatted plan, captured from the public
    ``df.explain("formatted")``; a failing explain raises, so a capture
    never records a plan it does not have."""
    if _PLAN_TAP is None:
        return
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    _PLAN_TAP.append((label, buf.getvalue()))


def shingles_cte(d: str, n: int = 3, src: str = "documents") -> str:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Array-native: tokenize once, slide an n-window over the token array,
    distinct within the document, THEN explode. No join, no shuffle, no
    cross-document DISTINCT — dedup happens on each doc's own array. The
    round-1 formulation (positional token table + (n-1) self-equi-joins)
    measured 4.5s vs 0.8s for this form at sf0.1: the joins forced
    broadcast-hash builds of the full token table while the per-row window
    is embarrassingly local. (An old note claimed the array form was ~25%
    slower; re-measured on Spark 4.1.2, it is ~5x faster.)
    """
    if d == "spark":
        gram = ", ' ', ".join(f"element_at(w, i + {k})" for k in range(n))
        return f"""
shingles AS (
  SELECT doc_id, explode(array_distinct(transform(
    sequence(1, size(w) - {n - 1}),
    i -> concat({gram})
  ))) AS shingle
  FROM (SELECT doc_id, split(text, ' ') AS w FROM {src}) t
  WHERE size(w) >= {n}
)"""
    gram = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    return f"""
shingles AS (
  SELECT doc_id, unnest(list_distinct([{gram} FOR i IN generate_series(1, len(w) - {n - 1})])) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}) t
  WHERE len(w) >= {n}
)"""


def _vec_elems(d: str, rel: str = "embeddings") -> str:
    """One row per (vec_id, dim [1-based], x) from the embedding array."""
    if d == "spark":
        return (
            f"SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x FROM "
            f"(SELECT vec_id, posexplode(embedding) AS (pos, x) FROM {rel})"
        )
    return (
        f"SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        f"CAST(unnest(embedding) AS DOUBLE) AS x FROM {rel}"
    )


def cosine(d: str, a: str, b: str) -> str:
    av, bv = array_double(d, a), array_double(d, b)
    return f"{dot(d, av, bv)} / (sqrt({dot(d, av, av)}) * sqrt({dot(d, bv, bv)}))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

register(
    "text_token_stats",
    "Token counting per document: whitespace tokens, BPE-ish regex tokens, "
    "distinct tokens, chars-per-token (training-data pipeline extension).",
    sql=lambda d: f"""
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(size({split_words(d, 'text')}) AS BIGINT) AS ws_tokens,
  CAST({regexp_count(d, 'text', '[a-z]+|[0-9]+|[^a-z0-9 ]')} AS BIGINT) AS bpe_ish_tokens,
  CAST(size(array_distinct({split_words(d, 'text')})) AS BIGINT) AS distinct_tokens,
  ROUND(CAST(n_chars AS DOUBLE) / size({split_words(d, 'text')}), 4) AS chars_per_token
FROM documents WHERE text IS NOT NULL
"""
    if d == "spark"
    else f"""
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(len({split_words(d, 'text')}) AS BIGINT) AS ws_tokens,
  CAST({regexp_count(d, 'text', '[a-z]+|[0-9]+|[^a-z0-9 ]')} AS BIGINT) AS bpe_ish_tokens,
  CAST(len(list_distinct({split_words(d, 'text')})) AS BIGINT) AS distinct_tokens,
  ROUND(CAST(n_chars AS DOUBLE) / len({split_words(d, 'text')}), 4) AS chars_per_token
FROM documents WHERE text IS NOT NULL
""",
)

def _tqs_stats(d: str) -> str:
    """Array-native per-doc stats (see _qss_stats): a full token explode +
    groupBy + COUNT(DISTINCT) shuffled every token of the corpus to compute
    four per-doc scalars that size/array_distinct/filter/aggregate produce
    in one projection. Word-length sums are exact integers, so the mean is
    bit-identical to the exploded AVG."""
    stops = "('the', 'a', 'of', 'and', 'to', 'in')"
    if d == SPARK:
        return f"""
  SELECT doc_id,
    CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct,
    CAST(size(filter(split(text, ' '), w -> w IN {stops})) AS BIGINT) AS n_stop,
    CAST(aggregate(split(text, ' '), 0L, (a, w) -> a + length(w)) AS DOUBLE)
      / size(split(text, ' ')) AS mean_word_len
  FROM documents WHERE text IS NOT NULL"""
    return f"""
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
    CAST(len(list_filter(string_split(text, ' '), w -> w IN {stops})) AS BIGINT) AS n_stop,
    CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS DOUBLE)
      / len(string_split(text, ' ')) AS mean_word_len
  FROM documents WHERE text IS NOT NULL"""


register(
    "text_quality_score",
    "Document quality scoring: length score, lexical diversity, stopword "
    "ratio, composite quality in [0,1]; array-native projections, no token "
    "explode (training-data pipeline extension).",
    sql=lambda d: f"""
WITH stats AS ({_tqs_stats(d)})
SELECT doc_id, n_tokens,
  ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS diversity,
  ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
  ROUND(mean_word_len, 4) AS mean_word_len,
  ROUND(LEAST(1.0,
      0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
    + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
    + 0.2 * LEAST(CAST(n_stop AS DOUBLE) * 5.0 / n_tokens, 1.0)), 4) AS quality_score
FROM stats
""",
)

_LANG_PROFILE = {
    "de": ("der", "die", "und", "das"),
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
}


def _lang_counts(d: str) -> str:
    """Per-language marker counts as array filters over the split tokens —
    the former token-explode ⋈ 16-row profile join + groupBy + window
    shuffled the whole token stream to count ≤16 marker words per doc."""
    count = (
        (lambda ws: f"size(filter(split(text, ' '), w -> w IN {ws}))")
        if d == SPARK
        else (lambda ws: f"len(list_filter(string_split(text, ' '), w -> w IN {ws}))")
    )
    return ",\n    ".join(
        f"CAST({count(repr(tuple(ws)))} AS BIGINT) AS c_{lang}"
        for lang, ws in _LANG_PROFILE.items()
    )


register(
    "text_language_id",
    "Language identification: stopword-profile marker counts per language "
    "as array filters (no token explode, no join), argmax language per "
    "document with deterministic alphabetical tie-break "
    "(training-data pipeline extension).",
    sql=lambda d: f"""
WITH counts AS (
  SELECT doc_id,
    {_lang_counts(d)}
  FROM documents WHERE text IS NOT NULL
),
best AS (
  SELECT doc_id, c_de, c_en, c_es, c_fr,
    GREATEST(c_de, c_en, c_es, c_fr) AS m
  FROM counts
)
SELECT doc_id,
  CASE WHEN m = 0 THEN 'und'
       WHEN c_de = m THEN 'de'
       WHEN c_en = m THEN 'en'
       WHEN c_es = m THEN 'es'
       ELSE 'fr' END AS detected_lang,
  m AS marker_hits
FROM best
""",
)


register(
    "langid_confusion",
    "Language-ID evaluation: confusion matrix of the stopword-profile "
    "detector against the corpus's labeled language — per (true, "
    "predicted) document counts and the within-true-language fraction. "
    "The accept/reject measurement a multilingual corpus pipeline runs "
    "before trusting its LID gate; ONE aggregation over the same "
    "array-filter marker counts (no token explode, no join).",
    sql=lambda d: f"""
WITH counts AS (
  SELECT doc_id, lang,
    {_lang_counts(d)}
  FROM {docs_table(d)} WHERE text IS NOT NULL
),
pred AS (
  SELECT lang,
    CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
         WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
         WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
         WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
         ELSE 'fr' END AS detected_lang
  FROM counts
)
SELECT lang AS true_lang, detected_lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(COUNT(*) AS DOUBLE)
        / SUM(COUNT(*)) OVER (PARTITION BY lang), 4) AS frac_of_true
FROM pred GROUP BY lang, detected_lang
""",
)


def _doc_fingerprint_spark_fn(spark, sf_dir):
    """Fingerprints via one Arrow kernel pass (hashlib md5 at C speed).

    The dual-dialect SQL form expanded every doc's distinct 3-gram shingles
    through interpreted lambda HOFs and md5'd each JVM-side — 2.5 s at sf1
    for what is one linear text scan (the same interpreted-HOF-vs-kernel gap
    the dedup family closed in round 5). Semantics are byte-identical to
    the SQL (kept as the DuckDB oracle): min over hex digests == hex of the
    min digest bytes (lowercase hex is monotonic per nibble), Python
    str.split(' ') == Spark split(col, ' '), sorted() == array_sort for
    UTF-8 (code-point order == byte order), and docs with < 3 tokens drop
    exactly like the shingles CTE's size(w) >= 3 inner join."""
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    src = spread_documents_src(spark, sf_dir, full_fanout=True)
    docs = spark.sql(f"SELECT doc_id, text FROM {src}")

    def kernel(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, wfp, mh = [], [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(txt, str):
                    continue
                w = txt.split(" ")
                if len(w) < 3:
                    continue
                sh = dict.fromkeys(
                    " ".join(w[i0 : i0 + 3]) for i0 in range(len(w) - 2)
                )
                mh.append(min(hashlib.md5(s.encode()).digest() for s in sh).hex())
                wfp.append(
                    hashlib.md5(" ".join(sorted(set(w))).encode()).hexdigest()
                )
                ids.append(did)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "wordset_fingerprint": pd.Series(wfp, dtype=object),
                    "shingle_minhash": pd.Series(mh, dtype=object),
                }
            )

    return docs.mapInPandas(
        kernel,
        "doc_id long, wordset_fingerprint string, shingle_minhash string",
    )


register(
    "doc_fingerprint",
    "Document fingerprinting: md5 over the canonical sorted word set + "
    "rolling min-hash over 3-gram shingles (training-data pipeline extension).",
    sql=lambda d: f"""
WITH {shingles_cte(d)},
mh AS (SELECT doc_id, MIN(md5(shingle)) AS shingle_minhash FROM shingles GROUP BY doc_id)
SELECT dc.doc_id,
  md5({sorted_distinct_words(d, 'dc.text')}) AS wordset_fingerprint,
  mh.shingle_minhash
FROM documents dc JOIN mh ON dc.doc_id = mh.doc_id
""",
    spark_fn=_doc_fingerprint_spark_fn,
)

# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------

register(
    "dedup_exact",
    "Exact dedup: hash-groupBy on normalized text, canonical doc = min id "
    "(map-side partial agg; the exact-dedup baseline of the dedup family).",
    sql=lambda d: """
SELECT md5(trim(lower(text))) AS content_hash,
  CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(trim(lower(text)))
""",
)

NGRAM_DF_CAP = 50  # max document frequency for a blocking shingle
NGRAM_ARRAY_VERIFY_MAX_PAIRS = 200_000  # measured break-even between the
# array-intersect verify (wins when candidates ≈ true near-dups) and the
# join-count verify (wins when blocking generates O(Σ df²) candidates)


def _ngram_jaccard_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH {shingles_cte(d)},
based AS (
  SELECT doc_id, {hex_to_bigint(d, "substr(md5(shingle), 1, 15)")} AS base FROM shingles
),
dfreq AS (SELECT base, CAST(COUNT(*) AS BIGINT) AS df FROM based GROUP BY base),
shd AS (SELECT s.doc_id, s.base, f.df FROM based s JOIN dfreq f USING (base)),
rare AS (SELECT doc_id, base FROM shd WHERE df <= {NGRAM_DF_CAP}),
hot AS (SELECT doc_id, base FROM shd WHERE df > {NGRAM_DF_CAP}),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM based GROUP BY doc_id),
nr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_rare
  FROM rare a JOIN rare b ON a.base = b.base AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nh AS (
  SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_hot
  FROM nr p
    JOIN hot ha ON ha.doc_id = p.doc_a
    JOIN hot hb ON hb.doc_id = p.doc_b AND hb.base = ha.base
  GROUP BY p.doc_a, p.doc_b
),
inter AS (
  SELECT nr.doc_a, nr.doc_b, nr.n_rare + COALESCE(nh.n_hot, 0) AS n_common
  FROM nr LEFT JOIN nh ON nh.doc_a = nr.doc_a AND nh.doc_b = nr.doc_b
)
SELECT i.doc_a, i.doc_b,
  ROUND(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= 0.8
"""


def _ngram_jaccard_parts(spark, sf_dir, arrs):
    """Shared candidate machinery of the ngram-Jaccard pipeline: the
    persisted per-base stats, the rare-shingle candidate pairs (doc-list
    walk, duplicates retained) and the memoized adaptive-verify decision
    count. Split out so dedup_strategy_agreement can reuse the SAME
    relations instead of rebuilding them (r11 VERDICT #8)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    based = arrs.select("doc_id", F2.explode("bases").alias("base"))
    # per-base stats with the doc list kept ONLY for rare (df <= cap)
    # shingles: a stop-word-grade hot shingle's list is O(#docs), and while
    # the aggregation builds it transiently either way, NULLing it before
    # the persist keeps the cache bound at CAP elements/row. Interior
    # persists here and on nr are per-invocation; discarded DataFrames are
    # reclaimed by Spark's ContextCleaner on driver GC (the bench
    # additionally clearCache()s between attempts).
    bstats = (
        based.groupBy("base")
        .agg(
            F2.count("*").alias("df"),
            F2.array_sort(F2.collect_list("doc_id")).alias("ds0"),
        )
        .filter(F2.col("df") >= 2)
        .select(
            "base",
            "df",
            F2.when(F2.col("df") <= NGRAM_DF_CAP, F2.col("ds0")).alias("ds"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rare_pairs = (
        bstats.filter(F2.col("df") <= NGRAM_DF_CAP)
        .select(
            F2.explode(
                F2.expr(
                    "flatten(transform(sequence(1, size(ds) - 1), "
                    "i -> transform(sequence(i + 1, CAST(size(ds) AS BIGINT)), "
                    "j -> struct(element_at(ds, CAST(i AS INT)) AS doc_a, "
                    "element_at(ds, CAST(j AS INT)) AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
    )
    def count_candidates():
        n = (
            bstats.filter(F2.col("df") <= NGRAM_DF_CAP)
            .agg(
                F2.sum(
                    F2.col("df").cast("long") * (F2.col("df").cast("long") - 1) / 2
                ).alias("n")
            )
            .first()["n"]
        )
        return n or 0

    # adaptive-verify decision, a corpus memo so repeated invocations — and
    # plan-only consumers after the first build (plan_audit, schema gates)
    # — skip the decision job
    n_cand = corpus_memo.memo(spark, sf_dir, "ngram_regime", count_candidates)
    return bstats, rare_pairs, n_cand


def _ngram_jaccard_spark_fn(spark, sf_dir, arrs=None, parts=None):
    """N-gram Jaccard with a document-frequency cap on the blocking key.

    The round-2 form blocked candidates on raw shingle equality: one hot
    shingle with document frequency df produces O(df²) candidate pairs — a
    quadratic blow-up on a single skewed key at 100 TB that AQE skew-split
    can spread but not shrink. Candidates now come only from shingles with
    df <= NGRAM_DF_CAP (bounded per-key fanout <= CAP²), while verification
    still counts ALL common shingles so Jaccard stays exact for every
    surviving pair.

    The per-doc base arrays come from ``minhash_signature_table`` — the
    single Arrow-batched shingle+md5 pass shared with MinHash (bases are the
    60-bit md5-derived hashes of ``_minhash_based_sql``: 8-byte longs
    shuffle far cheaper than ~20-char strings, and both dialects hash the
    same strings with the same md5, so a cross-doc collision is the SAME
    collision on both sides; the one asymmetry left is a WITHIN-doc 60-bit
    collision, where array_intersect dedups what the oracle's join-count
    counts twice — ~2^-60 per shingle pair, see ``_verify_pairs_jaccard``).

    The pair generation is an inverted-index doc-list walk, not a
    self-join: group shingle hashes to a sorted doc list per hash (df-cap
    bounds the list), then explode each list's i<j pairs with an array
    comprehension — narrow, JVM-side (interpreted: lambda HOFs skip
    whole-stage codegen), no join build/probe, and one fewer shuffle than
    the equi-self-join (which cost ~2.5 s on its own here).

    Verification is ADAPTIVE by candidate volume, decided from one tiny
    aggregate over the cached block lists (Σ C(df,2), the exact generated-
    pair count): the blocked candidate set is O(Σ df²) and only the true
    near-dups survive — 1.1M candidates → 256 survivors at sf0.1, where
    the array form drags two ~52-element arrays through a 1.1M-row join
    and pays interpreted array_intersect per candidate (measured 13.5 s
    vs ~2.5 s for the join-count form whose n_rare falls out of the pair
    generation's own GROUP BY for free). At sf1 the 10× document
    frequencies push most blocking keys past the df-cap, candidates
    collapse to O(true near-dups), and the array verify wins (2.2 s vs
    4.8 s). Neither regime is knowable statically at 100 TB — it depends
    on the corpus' dup structure — so the operator measures and picks.
    Shared HOT shingles (df > cap) are covered either way: array verify
    intersects FULL base sets; join-count adds them back from a second
    small join.

    Gotcha encoded below: Spark's ``sequence(1, 0)`` DESCENDS (it is not
    empty), so single-doc lists must be filtered out before pair-gen.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    if arrs is None:
        arrs = minhash_signature_table(spark, sf_dir)
    sizes = arrs.select("doc_id", "n_sh")
    if parts is None:
        parts = _ngram_jaccard_parts(spark, sf_dir, arrs)
    bstats, rare_pairs, n_cand = parts
    if n_cand <= NGRAM_ARRAY_VERIFY_MAX_PAIRS:
        return _verify_pairs_jaccard(arrs, rare_pairs.distinct())
    # hot (df > cap) membership derives from the cached signature table —
    # only the bounded (base, df) rows come from the persisted stats
    based = arrs.select("doc_id", F2.explode("bases").alias("base"))
    hot = based.join(
        bstats.filter(F2.col("df") > NGRAM_DF_CAP).select("base"), "base"
    )
    nr = (
        rare_pairs.groupBy("doc_a", "doc_b")
        .agg(F2.count("*").alias("n_rare"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # add back shared HOT shingles so n_common spans the full shingle sets
    nh = (
        nr.alias("p")
        .join(hot.alias("ha"), F2.col("p.doc_a") == F2.col("ha.doc_id"))
        .join(
            hot.alias("hb"),
            (F2.col("p.doc_b") == F2.col("hb.doc_id"))
            & (F2.col("hb.base") == F2.col("ha.base")),
        )
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F2.count("*").alias("n_hot"))
    )
    inter = nr.join(nh, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        (F2.col("n_rare") + F2.coalesce(F2.col("n_hot"), F2.lit(0))).alias("n_common"),
    )
    jac = F2.col("n_common").cast("double") / (
        F2.col("za.n_sh") + F2.col("zb.n_sh") - F2.col("n_common")
    )
    # sizes (one row per doc) joins onto the pair relation; AQE picks
    # broadcast when a side fits — never force-broadcast the pair set, it
    # is the potentially-large side at scale
    return (
        inter.join(sizes.alias("za"), F2.col("doc_a") == F2.col("za.doc_id"))
        .join(sizes.alias("zb"), F2.col("doc_b") == F2.col("zb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F2.round(jac, 4).alias("jaccard"))
    )


def _verify_pairs_jaccard(arrs, pairs, threshold: float = 0.8):
    """Exact-Jaccard verification shared by the MinHash and ngram paths:
    join the candidate pair set against the per-doc signature table twice
    and intersect base arrays — identical to the SQL spec's common-base
    join-count (up to within-doc 60-bit collisions, which dedup here but
    double-count in the join form — ~2^-60 per shingle pair), without
    re-shuffling an exploded base relation. No forced broadcast of the
    pair set: it is O(true near-dups) and AQE broadcasts it when it fits,
    but at pathological dup rates (a large crawl can be 30%+ near-dup) it
    is the LARGE side and must shuffle."""
    from pyspark.sql import functions as F2

    a = arrs.select(
        F2.col("doc_id").alias("doc_a"),
        F2.col("bases").alias("ba"),
        F2.col("n_sh").alias("na"),
    )
    b = arrs.select(
        F2.col("doc_id").alias("doc_b"),
        F2.col("bases").alias("bb"),
        F2.col("n_sh").alias("nb"),
    )
    j = a.join(pairs, "doc_a").join(b, "doc_b")
    n_common = F2.size(F2.array_intersect("ba", "bb")).cast("double")
    jac = n_common / (F2.col("na") + F2.col("nb") - n_common)
    return (
        j.filter(jac >= threshold)
        .select("doc_a", "doc_b", F2.round(jac, 4).alias("jaccard"))
    )


register(
    "dedup_ngram_jaccard",
    "N-gram Jaccard near-dup pairs: 3-word shingles, candidates blocked by "
    "shared RARE shingle (document frequency <= 50 -> bounded per-key "
    "fanout; one hot shingle can no longer drive O(df²) pairs), exact "
    "Jaccard over ALL common shingles >= 0.8.",
    sql=_ngram_jaccard_duck_sql,
    spark_fn=_ngram_jaccard_spark_fn,
)

def _batch_shingle_bases(texts, n: int):
    """Per-batch shingle+md5 core shared by the Arrow kernels: for each text
    in the batch, the distinct word n-gram shingles' 60-bit md5-derived
    bases (first 15 hex chars as int, computed as big-endian u64 of
    digest[:8] >> 4 — bit-identical to the SQL spec's
    conv(substr(md5(s),1,15),16,10)). Returns (kept row indexes, per-doc
    counts, per-doc segment offsets, flat int64 base array); docs with < n
    tokens — including NULL text, which the SQL spec's
    ``WHERE size(split(text,' ')) >= n`` also drops (size(NULL) = -1) —
    are skipped."""
    import hashlib

    import numpy as np

    keep, counts, digests = [], [], []
    for i, txt in enumerate(texts):
        if not isinstance(txt, str):
            continue  # NULL text: the SQL predicate drops it too
        w = txt.split(" ")
        if len(w) < n:
            continue
        # dict.fromkeys == array_distinct's first-seen order
        sh = dict.fromkeys(
            " ".join(w[i0 : i0 + n]) for i0 in range(len(w) - n + 1)
        )
        digests.append(b"".join(hashlib.md5(s.encode()).digest()[:8] for s in sh))
        keep.append(i)
        counts.append(len(sh))
    if not keep:
        return [], None, None, None
    u64 = np.frombuffer(b"".join(digests), dtype=">u8")
    bases = (u64 >> np.uint64(4)).astype(np.int64)
    counts = np.array(counts, dtype=np.int64)
    offsets = np.zeros(len(keep), dtype=np.int64)
    np.cumsum(counts[:-1], out=offsets[1:])
    return keep, counts, offsets, bases


def persisted_shingle_bases(spark, sf_dir, n: int = 3):
    """Persisted, materialized (doc_id, base) shingle-hash relation — the
    exploded blocking form (decontamination's eval×train equi-join needs
    per-shingle rows). Built by the Arrow kernel (hashlib md5 at C speed —
    the JVM HOF concat+md5+conv form cost ~3× more) and exploded JVM-side;
    16 bytes/row. Lazily materialized under the Spark 4.1
    cache-before-reference discipline."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    src = spread_documents_src(spark, sf_dir, full_fanout=True)
    docs = spark.sql(f"SELECT doc_id, text FROM {src}")

    import numpy as np
    import pandas as pd

    def to_bases(batches):
        for pdf in batches:
            ids_all = pdf["doc_id"].to_numpy(np.int64)
            if len(ids_all) == 0:
                continue
            keep, counts, offsets, bases = _batch_shingle_bases(pdf["text"], n)
            if not keep:
                continue
            yield pd.DataFrame(
                {"doc_id": ids_all[keep], "bases": np.split(bases, offsets[1:])}
            )

    df = (
        docs.mapInPandas(to_bases, "doc_id long, bases array<long>")
        .select("doc_id", F2.explode("bases").alias("base"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # lazily materialized: per-partition cache locks serialize concurrent
    # consumer stages; an eager count would cost one extra scheduling round
    return df


def _minhash_based_sql(d: str) -> str:
    """Distinct (doc_id, 60-bit md5-derived shingle base) — the ONE relation
    every MinHash stage (signatures, sizes, exact verify) derives from."""
    return f"""
WITH {shingles_cte(d)}
SELECT doc_id, {hex_to_bigint(d, "substr(md5(shingle), 1, 15)")} AS base
FROM shingles
"""


def _minhash_rest_sql() -> str:
    """Everything downstream of the ``minhash_based`` relation, dialect-neutral.

    h_j(x) = (a_j·(base % P) + b_j) mod P over the shared base — the classic
    universal-hash family. No seeds cross join (12× row expansion) and no 12
    md5 calls per shingle; the 12 MIN aggregates come out of one GROUP BY.
    Banding: 4 bands × 3 rows on numeric signatures. Verification counts
    common bases (exact: the base is distinct-per-doc and 60-bit, so base
    equality ≡ shingle equality up to negligible collisions — and both
    dialects compute it identically).
    """
    P = 1_000_000_007
    coeffs = [(7 + 10 * j, 13 + 997 * j) for j in range(12)]
    mins = ",\n    ".join(
        f"MIN(((base % {P}) * {a} + {b}) % {P}) AS m{j}" for j, (a, b) in enumerate(coeffs)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {k} AS band, concat(CAST(m{3 * k} AS STRING), ':', "
        f"CAST(m{3 * k + 1} AS STRING), ':', CAST(m{3 * k + 2} AS STRING)) AS band_sig FROM mh"
        for k in range(4)
    )
    return f"""
mh AS (
  SELECT doc_id,
    {mins}
  FROM minhash_based GROUP BY doc_id
),
bands AS (
  {band_rows}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM minhash_based GROUP BY doc_id),
verified AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM candidates c
    JOIN minhash_based sa ON sa.doc_id = c.doc_a
    JOIN minhash_based sb ON sb.doc_id = c.doc_b AND sb.base = sa.base
  GROUP BY c.doc_a, c.doc_b
)
SELECT v.doc_a, v.doc_b,
  ROUND(CAST(v.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - v.n_common), 4) AS jaccard
FROM verified v
  JOIN sizes za ON za.doc_id = v.doc_a
  JOIN sizes zb ON zb.doc_id = v.doc_b
WHERE CAST(v.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - v.n_common) >= 0.8
"""


def _minhash_duck_sql(d: str) -> str:
    if d == "spark":
        return None
    return f"WITH minhash_based AS ({_minhash_based_sql(d)}),\n{_minhash_rest_sql()}"


def minhash_signature_table(spark, sf_dir):
    """Per-document MinHash state — (doc_id, n_sh, m0..m11, bases array) — as
    ONE Arrow-batched pass over the documents, persisted for the band and
    verify consumers.

    Same pattern as the SimHash signature kernel: the SQL formulation
    (``_minhash_based_sql`` + ``_minhash_rest_sql``, still the executable
    spec via the DuckDB oracle) explodes ~52 shingles/doc into a 2.6M-row
    relation, md5s each via interpreted HOFs, shuffles it back into a
    12-MIN GROUP BY, and later re-joins it TWICE for verification. Here
    each Arrow batch shingles its documents in Python (dict.fromkeys ==
    array_distinct first-seen order), md5s at hashlib C speed, and
    segment-mins the 12 universal hashes with one numpy reduceat per hash —
    no explode, no shuffle, signatures AND the per-doc base set come out of
    a single projection. base = first 15 md5 hex chars as a 60-bit int,
    computed as (big-endian u64 of digest[:8]) >> 4 — bit-identical to the
    SQL spec's conv(substr(md5(s),1,15),16,10), so oracle hashes match.

    Scale: per-task memory is one Arrow batch of documents; the signature
    build never shuffles, and downstream verification joins candidates
    (O(true near-dups)) against this 50k-row/sf table instead of the 2.6M-row
    exploded relation — the verify shuffle disappears entirely.

    A corpus memo (``corpus_memo.memo``), like ``spread_documents_src``, so
    the three consumers in a suite run (MinHash, ngram Jaccard, strategy
    agreement) share ONE kernel pass and ONE cache instead of building
    three copies. A hit after ``spark.catalog.clearCache()`` (the bench
    runs one between attempts) re-arms the persist, and a regenerated
    corpus unpersists the superseded table before the rebuild.
    """
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return corpus_memo.memo(
        spark,
        sf_dir,
        "minhash_signature_table",
        lambda: _build_signature_table(spark, sf_dir),
    )


def _build_signature_table(spark, sf_dir):
    from pyspark import StorageLevel

    src = spread_documents_src(spark, sf_dir, full_fanout=True)
    docs = spark.sql(f"SELECT doc_id, text FROM {src}")

    import numpy as np
    import pandas as pd

    P = 1_000_000_007
    coeffs = [(7 + 10 * j, 13 + 997 * j) for j in range(12)]

    def to_sigs(batches):
        for pdf in batches:
            ids_all = pdf["doc_id"].to_numpy(np.int64)
            if len(ids_all) == 0:
                continue
            keep, counts, offsets, bases = _batch_shingle_bases(pdf["text"], 3)
            if not keep:
                continue
            bmod = bases % P
            cols = {"doc_id": ids_all[keep], "n_sh": counts}
            for j, (a, b) in enumerate(coeffs):
                cols[f"m{j}"] = np.minimum.reduceat((bmod * a + b) % P, offsets)
            cols["bases"] = np.split(bases, offsets[1:])
            yield pd.DataFrame(cols)

    schema = (
        "doc_id long, n_sh long, "
        + ", ".join(f"m{j} long" for j in range(12))
        + ", bases array<long>"
    )
    return docs.mapInPandas(to_sigs, schema).persist(StorageLevel.MEMORY_AND_DISK)


def _minhash_spark_fn(spark, sf_dir, arrs=None):
    """MinHash+LSH from the per-doc signature table (one Arrow pass, zero
    signature shuffles); banding + candidate equi-join stay JVM-side and
    verification is size(array_intersect) over the two docs' base arrays —
    candidate pairs broadcast, the signature table never shuffles. The SQL
    spec lives on as the DuckDB oracle (``_minhash_duck_sql``)."""
    if arrs is None:
        arrs = minhash_signature_table(spark, sf_dir)
    return _verify_pairs_jaccard(arrs, _minhash_candidates(arrs).distinct())


def _minhash_candidates(arrs):
    """LSH band-collision candidate pairs (duplicates retained — one row per
    colliding band). Split out so dedup_strategy_agreement can reuse the
    banding without the per-pipeline distinct."""
    from pyspark.sql import functions as F2

    bands = arrs.select(
        "doc_id",
        F2.explode(
            F2.array(
                *[
                    F2.struct(
                        F2.lit(k).alias("band"),
                        F2.concat_ws(
                            ":",
                            *[F2.col(f"m{3 * k + r}").cast("string") for r in range(3)],
                        ).alias("band_sig"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.band_sig")
    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            on=[
                F2.col("x.band") == F2.col("y.band"),
                F2.col("x.band_sig") == F2.col("y.band_sig"),
                F2.col("x.doc_id") < F2.col("y.doc_id"),
            ],
        )
        .select(F2.col("x.doc_id").alias("doc_a"), F2.col("y.doc_id").alias("doc_b"))
    )


register(
    "dedup_minhash_lsh",
    "MinHash+LSH near-dup: 12 universal-hash minhashes from one md5 base, "
    "4 bands x 3 rows, candidates join on band signature, exact-Jaccard "
    "verification >= 0.8. The scale path: candidate count is O(true "
    "near-dups), not O(n^2); signatures AND per-doc base sets come from ONE "
    "Arrow-batched shuffle-free pass (hashlib md5 + numpy segment-min), and "
    "verification intersects base arrays on broadcast candidates — the "
    "exploded shingle relation never exists.",
    sql=_minhash_duck_sql,
    spark_fn=_minhash_spark_fn,
)

SIMHASH_BITS = 64  # 4 pigeonhole blocks of 16 bits: candidate collisions
# scale ~4·n²/2^16 — the 32-bit/8-bit-block form hit ~4·n²/256 candidate
# pairs at sf1 (50k docs → ~19M pairs), the same quadratic wall the
# embedding LSH had. Hamming ≤ 3 over 4 blocks keeps the exact pigeonhole
# recall guarantee at any width.


def _simhash_blocked_sql(d: str) -> str:
    """Per-document 64-bit SimHash signature as 4 pigeonhole block values.

    ONE aggregation pass: bit b's vote is an aggregate column (no shingle ×
    bits row explosion — at sf0.1 that expansion alone was 14M rows). The
    md5's first 64 bits are parsed ONCE into two 32-bit integer chunks;
    each signature bit is one digest bit extracted with integer div/mod.
    Output: (doc_id, blk0..blk3), one 16-bit block value per column.
    """
    nb = SIMHASH_BITS

    def bit(b: int) -> str:
        # signature bit b = bit b (MSB-first) of the digest's first 64 bits:
        # 32-bit chunk (b-1)//32, shift 31-((b-1)%32) — one integer divide
        # by 2^s + %2 per bit
        chunk = f"c{(b - 1) // 32}"
        shift = 2 ** (31 - (b - 1) % 32)
        return f"CASE WHEN SUM(({bigint_div(d, chunk, shift)} % 2) * 2 - 1) >= 0 THEN 1 ELSE 0 END"

    sbits = ",\n    ".join(f"{bit(b)} AS s{b}" for b in range(1, nb + 1))
    chunks = ",\n    ".join(
        f"{hex_to_bigint(d, f'substr(h, {1 + 8 * c}, 8)')} AS c{c}" for c in range(nb // 32)
    )
    w = nb // 4
    blk = lambda lo: " + ".join(  # noqa: E731
        f"s{b} * {2 ** (b - lo)}" for b in range(lo, lo + w)
    )
    return f"""
WITH {shingles_cte(d)},
hashed AS (SELECT doc_id, md5(shingle) AS h FROM shingles),
chunked AS (
  SELECT doc_id,
    {chunks}
  FROM hashed
),
sigs AS (
  SELECT doc_id,
    {sbits}
  FROM chunked GROUP BY doc_id
)
SELECT doc_id,
  CAST({blk(1)} AS BIGINT) AS blk0,  CAST({blk(1 + w)} AS BIGINT) AS blk1,
  CAST({blk(1 + 2 * w)} AS BIGINT) AS blk2, CAST({blk(1 + 3 * w)} AS BIGINT) AS blk3
FROM sigs
"""


def _simhash_duck_sql(d: str) -> str:
    """Oracle form: signature CTE + unpivoted-block candidate join + verify."""
    if d == "spark":
        return None
    block_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {k} AS block_no, blk{k} AS block_val FROM blocked" for k in range(4)
    )
    ham = " + ".join(f"bit_count({xor_int(d, f'a.blk{k}', f'b.blk{k}')})" for k in range(4))
    return f"""
WITH blocked AS ({_simhash_blocked_sql(d)}),
blocks AS (
  {block_rows}
),
candidates AS (
  SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
  FROM blocks ca JOIN blocks cb
    ON ca.block_no = cb.block_no AND ca.block_val = cb.block_val
   AND ca.doc_id < cb.doc_id
)
SELECT c.doc_a, c.doc_b,
  CAST({ham} AS BIGINT) AS hdist
FROM candidates c
  JOIN blocked a ON a.doc_id = c.doc_a
  JOIN blocked b ON b.doc_id = c.doc_b
WHERE {ham} <= 3
"""


def _simhash_spark_fn(spark, sf_dir):
    """SimHash near-dup with hash-joinable blocking, signature table reused.

    Scale-critical shapes (the round-1 formulation `ON a.blk0=b.blk0 OR …`
    had no equi-conjunct and executed as a CartesianProduct — O(n²) pairs at
    100 TB):
    - The 4 pigeonhole blocks are unpivoted to (doc_id, block_no, block_val)
      rows, so candidate generation is a plain equi-join on
      (block_no, block_val) — a shuffled hash join at any scale. Hamming ≤ 3
      guarantees ≥ 1 of 4 blocks equal (pigeonhole), so recall is unchanged;
      DISTINCT collapses pairs matching in several blocks.
    - The per-doc signature table (5 BIGINTs/doc — tiny relative to the
      corpus) is persisted ONCE and read three times (unpivot + both verify
      sides). Inlined as a CTE, Spark would re-expand the whole shingle →
      vote-aggregation pipeline per reference, tripling the dominant cost.
    - Verification is bit_count(xor) over the 4 block values (the bits are
      partitioned across blocks), computed only on blocked candidates.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    # Signature build as a narrow Python pass (same pattern as the embedding
    # GEMM): the SQL form spent ~1.5 s JVM-side on md5 hex parsing + a
    # 32-SUM-column aggregation over the exploded shingle rows; here each
    # Arrow batch md5s its shingles with hashlib (C speed), extracts the
    # vote bits with one vectorized shift per bit, and segment-sums votes
    # per document — no explode, no shuffle. The md5 and the bit math are
    # the SQL form's exactly (big-endian u32 chunks of the digest, LSB of
    # hex digit 7-(b-1)%8), so the signatures — and the oracle compare —
    # are bit-identical; _simhash_blocked_sql stays as the executable spec.
    import hashlib

    import numpy as np
    import pandas as pd

    # spread BEFORE the projection: repartitioning the result would leave
    # the HOF shingle build on the single scan task and only spread the
    # pandas pass
    src = spread_documents_src(spark, sf_dir, full_fanout=True)
    gram = ", ' ', ".join(f"element_at(w, i + {k})" for k in range(3))
    docarr = spark.sql(
        f"""
SELECT doc_id, array_distinct(transform(sequence(1, size(w) - 2), i -> concat({gram}))) AS sh
FROM (SELECT doc_id, split(text, ' ') AS w FROM {src}) t
WHERE size(w) >= 3"""
    )

    nb, w = SIMHASH_BITS, SIMHASH_BITS // 4
    nbytes = nb // 8
    powersw = 2 ** np.arange(w, dtype=np.int64)

    def to_sigs(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            lists = list(pdf["sh"])
            counts = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
            # Signature bit b = bit b (MSB-first) of the digest — which is
            # exactly np.unpackbits over the digest's leading bytes, so the
            # whole vote matrix stays uint8. (The previous formulation
            # expanded to a (shingles x nb) int64 matrix plus two same-size
            # temporaries for the +-1 mapping — ~1.3 GB of traffic at the
            # 20x corpus, memory-bandwidth-bound at 32 concurrent tasks;
            # measured 43 s single-thread vs 1.5 s for this form. Vote
            # semantics unchanged: sum(2b-1) = 2*sum(b) - n.)
            digest = b"".join(
                hashlib.md5(sh.encode()).digest()[:nbytes] for x in lists for sh in x
            )
            bits8 = np.unpackbits(
                np.frombuffer(digest, dtype=np.uint8).reshape(-1, nbytes), axis=1
            )
            offsets = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            sumbits = np.add.reduceat(bits8, offsets, axis=0, dtype=np.int64)
            votes = 2 * sumbits - counts[:, None]
            sig = (votes >= 0).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    **{
                        f"blk{k}": sig[:, w * k : w * k + w] @ powersw
                        for k in range(4)
                    },
                }
            )

    blocked = docarr.mapInPandas(
        to_sigs, "doc_id long, blk0 long, blk1 long, blk2 long, blk3 long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # lazily materialized (see persisted_shingle_bases): per-partition cache
    # locks serialize the three consumer stages; an eager count would cost
    # one extra scheduling round
    blocks = blocked.select(
        "doc_id",
        F2.explode(
            F2.array(
                *[
                    F2.struct(
                        F2.lit(k).alias("block_no"), F2.col(f"blk{k}").alias("block_val")
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.block_no", "b.block_val")
    cand = (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            on=[
                F2.col("x.block_no") == F2.col("y.block_no"),
                F2.col("x.block_val") == F2.col("y.block_val"),
                F2.col("x.doc_id") < F2.col("y.doc_id"),
            ],
        )
        .select(F2.col("x.doc_id").alias("doc_a"), F2.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    ham = sum(
        F2.bit_count(F2.col(f"a.blk{k}").bitwiseXOR(F2.col(f"b.blk{k}"))) for k in range(4)
    )
    # broadcast the tiny candidate-pair set, not the signature table
    return (
        blocked.alias("a")
        .join(F2.broadcast(cand), F2.col("doc_a") == F2.col("a.doc_id"))
        .join(blocked.alias("b"), F2.col("doc_b") == F2.col("b.doc_id"))
        .select("doc_a", "doc_b", ham.cast("long").alias("hdist"))
        .filter(ham <= 3)
    )


register(
    "dedup_simhash",
    "SimHash near-dup: 64-bit signature from md5-derived shingle-bit votes "
    "(shingle features, not unigrams — synthetic docs share vocabulary), "
    "pigeonhole blocking unpivoted to an equi-join on (block_no, block_val) "
    "(no cartesian), exact hamming verification <= 3 via bit_count(xor). "
    "Single-pass aggregation: one vote column per bit, no bits-expansion join; "
    "signature table persisted once, read three times.",
    sql=_simhash_duck_sql,
    spark_fn=_simhash_spark_fn,
)

EMB_DIM = 64  # the corpus embedding length (all SFs; checked at generation)
# Dedup-LSH shape: collisions per table scale ~n²/2^k, so k must grow with
# log2(n) to keep the verify stage linear — the sf1 scaling run (20k
# vectors, fixed k=8) showed the candidate set and the exact-cosine verify
# behind it growing ~29× on 10× data. Both engines therefore pick k
# adaptively (emb_lsh_k below; the oracle computes the same k in-SQL from
# COUNT(*)): k=8 up to 4096 vectors, then min(K_MAX, ceil(log2 n)+1),
# which holds expected junk candidates per table (n²/2^(k+1)) roughly
# constant. Plane layout is PREFIX-stable: each table reserves K_MAX
# planes and uses the FIRST k as an MSB-first bucket, so the oracle can
# derive any k's bucket from the full K_MAX-bit value with one dynamic
# right-shift — cross-engine parity holds at EVERY scale (the earlier
# static-k=8 oracle silently diverged above 4096 vectors: at sf2 it
# emitted 16,862 pairs vs the adaptive side's 450). True near-dup pairs
# (cosine ≥ 0.9) still collide in ≥1 of the 8 tables with probability
# ≥ 99.9% at any of these k.
EMB_LSH_L = 8
EMB_LSH_K_MAX = 24  # caps k at 2^23 vectors; also the reserved planes/table


def _embeddings_rows(spark, sf_dir) -> int:
    """Vector count for LSH k-sizing, from the parquet footers (no Spark
    job, a file or a directory alike); a count job only when a footer
    cannot be read. Sizing a hash family does not need a cluster pass."""
    rows = table_probe(sf_dir, "embeddings").rows
    return rows if rows is not None else load_table(spark, sf_dir, "embeddings").count()


def emb_lsh_k(n_vectors: int) -> int:
    """Bits per LSH table — MUST stay in lockstep with the oracle SQL's
    in-query CASE (``_embedding_cosine_sql``), which computes the same
    value from COUNT(*)."""
    import math

    if n_vectors <= 4096:
        return 8
    return min(EMB_LSH_K_MAX, math.ceil(math.log2(n_vectors)) + 1)


def _plane_weights(j: int, dims: int = EMB_DIM) -> list[float]:
    """Hyperplane j's per-dimension weight, md5-derived for determinism.

    Computed HERE (Python hashlib) and emitted as SQL literals: the round-1
    formulation computed md5(concat(j,'_',dim)) per element row per plane
    inside the aggregation — planes × dims × vectors hash calls (8.2M at
    sf0.1 for the 64-plane query) for what is a 64×64 CONSTANT matrix.
    Same digest function on both sides, so the values are unchanged."""
    import hashlib

    return [
        (int(hashlib.md5(f"{j}_{dim}".encode()).hexdigest()[:8], 16) % 1000) - 499.5
        for dim in range(1, dims + 1)
    ]


def _array_lit(d: str, vals: list[float]) -> str:
    s = ", ".join(repr(v) for v in vals)
    return f"array({s})" if d == "spark" else f"[{s}]"


def _sign_bits(d: str, n_planes: int, vec: str = "e") -> str:
    """n_planes sign-bit columns hb1..hbN: dot the double-array column
    against each literal hyperplane. Deterministic fold order in BOTH
    dialects (list order), unlike a SUM over exploded rows."""
    return ",\n    ".join(
        f"CASE WHEN {dot(d, vec, _array_lit(d, _plane_weights(j)))} >= 0 "
        f"THEN 1 ELSE 0 END AS hb{j}"
        for j in range(1, n_planes + 1)
    )


def _lsh_buckets_cte(d: str) -> str:
    """CTE fragment ``v``/``proj``/``buckets``: every vector's 8-bit sign
    bucket under 8 md5-derived random hyperplanes — literal-weight dot
    products straight on the embedding array, no explode, no per-row hashing
    (shared by ann_lsh_bucketed and dedup_embedding_cosine so the recall
    tier is defined exactly once).

    Cross-engine sign-bit stability: the Spark path computes the projection
    with a BLAS GEMM (pairwise summation) while this SQL folds sequentially,
    so the two engines' float64 sums can differ by up to ~64·eps·max|term|
    ≈ 2e-12. A sign bit flips between engines only when the true projection
    lands inside that window around 0; with the corpus embeddings
    (|x| ≤ 0.53) and half-integer weights (|w| ≤ 499.5) the projections are
    ~N(0, σ≈350), so the per-dot flip probability is ~6e-15 (~1e-9 per full
    sf0.1 run) — quantified and accepted rather than papered over with an
    epsilon that only moves the boundary."""
    return f"""
v AS (SELECT vec_id, {array_double(d, 'embedding')} AS e FROM embeddings),
proj AS (
  SELECT vec_id,
    {_sign_bits(d, 8)}
  FROM v
),
buckets AS (
  SELECT vec_id,
    CAST({" + ".join(f"hb{j} * {2 ** (j - 1)}" for j in range(1, 9))} AS BIGINT) AS bucket
  FROM proj
)"""


def _embedding_lsh_spark_fn(spark, sf_dir):
    """Spark execution of the multi-table LSH dedup: the bucket assignment is
    a single BLAS GEMM (embeddings × hyperplane matrix) per Arrow batch in
    mapInPandas, and pair verification is a vectorized pandas-UDF cosine.

    The pure-SQL form (kept as the DuckDB oracle) spends seconds in
    Spark's INTERPRETED higher-order functions — 64 planes × n vectors ×
    64 dims of lambda evaluations — for what is one matrix multiply. DuckDB's
    native list_dot_product has no such penalty, so each dialect runs the
    formulation that is idiomatic for it; the scheme (and result set) is
    identical.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    L, KM = EMB_LSH_L, EMB_LSH_K_MAX
    k = emb_lsh_k(_embeddings_rows(spark, sf_dir))
    # prefix-stable plane layout: table t owns planes [t*K_MAX, (t+1)*K_MAX)
    # and buckets on the FIRST k of them, MSB-first — so the oracle derives
    # the same bucket from its full K_MAX-bit value with one right-shift
    W = np.array([_plane_weights(j) for j in range(1, KM * L + 1)])  # (K_MAX*L, 64)
    powers = 2 ** np.arange(k - 1, -1, -1)  # MSB-first

    def to_buckets(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(ids) == 0:
                yield pd.DataFrame({"vec_id": [], "tbl": [], "bucket": []})
                continue
            bits = (M @ W.T >= 0).astype(np.int64)  # (n, K_MAX*L) sign bits
            out = []
            for t in range(L):
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "tbl": np.full(len(ids), t, dtype=np.int32),
                            "bucket": bits[:, t * KM : t * KM + k] @ powers,
                        }
                    )
                )
            yield pd.concat(out)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    buckets = emb.mapInPandas(to_buckets, "vec_id long, tbl int, bucket long")
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            on=[
                F2.col("a.tbl") == F2.col("b.tbl"),
                F2.col("a.bucket") == F2.col("b.bucket"),
                F2.col("a.vec_id") < F2.col("b.vec_id"),
            ],
        )
        .select(F2.col("a.vec_id").alias("vec_a"), F2.col("b.vec_id").alias("vec_b"))
        .distinct()
    )

    def _pair_cos(a, b):
        A = np.array(list(a), dtype=np.float64)
        B = np.array(list(b), dtype=np.float64)
        return pd.Series(
            (A * B).sum(axis=1)
            / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
        )

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints, which pandas_udf cannot resolve
    _pair_cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    pair_cos = F2.pandas_udf(_pair_cos, T2.DoubleType())

    pairs = (
        cand.join(emb.alias("ea"), F2.col("vec_a") == F2.col("ea.vec_id"))
        .join(emb.alias("eb"), F2.col("vec_b") == F2.col("eb.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            pair_cos(F2.col("ea.embedding"), F2.col("eb.embedding")).alias("cos_sim"),
        )
    )
    return pairs.filter(F2.col("cos_sim") >= 0.45).select(
        "vec_a", "vec_b", F2.round("cos_sim", 4).alias("cos_sim")
    )


def _embedding_cosine_sql(d: str) -> str:
    """Multi-table hyperplane-LSH near-dup with exact cosine verification.

    Round-1 collected the corpus on the driver and broadcast the full matrix
    (all-pairs GEMM) — a driver-memory wall at 100 TB. The scale shape: L
    LSH tables × k md5-derived hyperplanes each (EMB_LSH_K/L). A vector's
    k-bit sign bucket per table is unpivoted to (vec_id, tbl, bucket) rows, so candidate
    generation is an equi-join on (tbl, bucket) — a shuffled hash join,
    never all-pairs — and a pair is a candidate if it collides in ANY table
    (OR-amplification; DISTINCT collapses multi-table collisions). Exact
    cosine then verifies candidates only. Both dialects compute the identical
    bucket assignment, so the oracle checks the exact pair set the scale
    path emits (LSH is approximate by design; the contract is the scheme,
    and the scheme is deterministic).

    (k, L) tuning: random (non-dup) pairs collide per table with probability
    ~(1/2)^k, so expected junk candidates ≈ L·n²/2^(k+1) — k must track
    log2(n) (see EMB_LSH_K) while high-similarity pairs (the near-dup
    regime) still collide with probability 1-(1-(1-θ/π)^k)^L.
    """
    # Full K_MAX-bit bucket per table, MSB-first, then one dynamic
    # right-shift by (K_MAX - k) where k is computed in-query from
    # COUNT(*) — the exact CASE emb_lsh_k() evaluates in Python, so the
    # candidate sets (and hence results) match the adaptive Spark side at
    # EVERY scale, not just the k=8 regime the old static form covered.
    KM, L = EMB_LSH_K_MAX, EMB_LSH_L
    buckets = ", ".join(
        " + ".join(
            f"hb{t * KM + r + 1} * {2 ** (KM - 1 - r)}" for r in range(KM)
        )
        for t in range(L)
    )
    # Unpivot the L bucket values via ONE explode, not L UNION branches: each
    # UNION branch re-expands the K_MAX*L-column projection (verified: the
    # UNION form recomputed it L times — CTEs are not materialized).
    tbl_sql = (
        f"SELECT vec_id, generate_subscripts([{buckets}], 1) - 1 AS tbl, "
        f"unnest([{buckets}]) >> (SELECT shift FROM kk) AS bucket FROM proj"
    )
    return f"""
WITH v AS (SELECT vec_id, {array_double(d, 'embedding')} AS e FROM embeddings),
kk AS (
  SELECT {KM} - (CASE WHEN COUNT(*) <= 4096 THEN 8
                      ELSE LEAST({KM}, CAST(CEIL(LOG2(COUNT(*))) AS INTEGER) + 1)
                 END) AS shift
  FROM v
),
proj AS (
  SELECT vec_id,
    {_sign_bits(d, KM * L)}
  FROM v
),
tbl_buckets AS (
  {tbl_sql}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM tbl_buckets a JOIN tbl_buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
n AS (
  SELECT vec_id, e, sqrt({dot(d, 'e', 'e')}) AS nrm
  FROM v
)
SELECT vec_a, vec_b, ROUND(cos_sim, 4) AS cos_sim FROM (
  SELECT c.vec_a, c.vec_b, {dot(d, 'a.e', 'b.e')} / (a.nrm * b.nrm) AS cos_sim
  FROM cand c
    JOIN n a ON a.vec_id = c.vec_a
    JOIN n b ON b.vec_id = c.vec_b
) pairs
WHERE cos_sim >= 0.45
"""


register(
    "dedup_embedding_cosine",
    "Embedding-cosine near-dup pairs at cosine >= 0.45: 8-table x "
    "8-hyperplane LSH candidates (equi-join on (tbl, bucket), "
    "OR-amplified recall — no driver collect, no full-corpus broadcast, "
    "never all-pairs), exact cosine verification on candidates only. "
    "Spark side: BLAS GEMM bucket assignment + vectorized pandas cosine; "
    "oracle side: the same scheme as literal-hyperplane SQL.",
    sql=lambda d: None if d == "spark" else _embedding_cosine_sql(d),
    spark_fn=_embedding_lsh_spark_fn,
)

def _qss_stats(d: str) -> str:
    """Per-doc token stats ARRAY-NATIVELY: size/array_distinct/filter on the
    split array instead of posexplode + groupBy + COUNT(DISTINCT). The
    exploded form shuffled every token row and ran a distinct-aggregate per
    doc (at sf1: 3.3 s vs DuckDB 0.8 s); this is a pure projection — zero
    shuffles before the final band rollup — and identical counts (split
    keeps empty tokens in both forms)."""
    stops = "('the', 'a', 'of', 'and', 'to', 'in')"
    if d == SPARK:
        return f"""
  SELECT doc_id,
    CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_distinct,
    CAST(size(filter(split(text, ' '), w -> w IN {stops})) AS BIGINT) AS n_stop
  FROM {docs_table(d)} WHERE text IS NOT NULL"""
    return f"""
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
    CAST(len(list_filter(string_split(text, ' '), w -> w IN {stops})) AS BIGINT) AS n_stop
  FROM documents WHERE text IS NOT NULL"""


register(
    "quality_stratified_sample",
    "Quality-stratified corpus sampling: documents score into quality bands "
    "(the text_quality_score composite), each band keeps a different "
    "deterministic fraction (high 100% / mid 50% / low 10%) via an "
    "md5-derived per-doc uniform — the standard up/down-sampling step when "
    "assembling a training mix. Per-doc stats are array-native projections "
    "(no token explode); the only shuffle is the final band rollup.",
    sql=lambda d: f"""
WITH stats AS ({_qss_stats(d)}),
scored AS (
  SELECT doc_id, n_tokens,
    LEAST(1.0,
        0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
      + 0.2 * LEAST(CAST(n_stop AS DOUBLE) * 5.0 / n_tokens, 1.0)) AS quality
  FROM stats
),
banded AS (
  SELECT doc_id, n_tokens, quality,
    CASE WHEN quality >= 0.8 THEN 'high'
         WHEN quality >= 0.5 THEN 'mid' ELSE 'low' END AS band,
    CASE WHEN quality >= 0.8 THEN 1.0
         WHEN quality >= 0.5 THEN 0.5 ELSE 0.1 END AS keep_rate,
    CAST({hex_to_bigint(d, "substr(md5(concat('sample_', CAST(doc_id AS STRING))), 1, 8)")} % 10000 AS DOUBLE) / 10000.0 AS u
  FROM scored
)
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN u < keep_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN u < keep_rate THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
  ROUND(AVG(quality), 4) AS mean_quality
FROM banded
GROUP BY band
""",
)

register(
    "sequence_packing_plan",
    "Sequence-packing plan: assign documents to fixed 2048-token context "
    "windows by running token-count prefix sums WITHIN hash shards "
    "(doc_id % 8) — per-shard window functions, so the prefix sum "
    "parallelizes across shards instead of forcing one global ordered "
    "chain (the 100 TB shape: packing is per output shard anyway). A "
    "document lands in the bin where its exclusive prefix starts; per-bin "
    "fill ratio reports packing efficiency.",
    sql=lambda d: f"""
WITH toks AS (
  SELECT doc_id,
    CAST(doc_id % 8 AS BIGINT) AS shard,
    CAST({"size" if d == "spark" else "len"}({split_words(d, 'text')}) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
pref AS (
  SELECT doc_id, shard, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_tokens
  FROM toks
),
binned AS (
  SELECT shard, doc_id, n_tokens,
    CAST(FLOOR(COALESCE(prior_tokens, 0) / 2048.0) AS BIGINT) AS bin
  FROM pref
)
SELECT shard, bin,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
  CAST(ROUND(SUM(n_tokens) / 2048.0, 4) AS DOUBLE) AS fill_ratio
FROM binned
GROUP BY shard, bin
""",
)

DECON_NGRAM = 8  # long n-grams: shared ones are near-unique, so the
# blocking join stays linear — 3-grams hit hot common-word shingles whose
# eval-df x train-df product grew 100x on the 10x sf1 corpus


def _decontamination_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH {shingles_cte(d, DECON_NGRAM)},
based AS (
  SELECT doc_id, {hex_to_bigint(d, "substr(md5(shingle), 1, 15)")} AS base FROM shingles
),
ev AS (SELECT doc_id, base FROM based WHERE doc_id % 11 = 0),
train AS (SELECT doc_id, base FROM based WHERE doc_id % 11 <> 0),
ev_sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ev GROUP BY doc_id),
hits AS (
  SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ev e JOIN train t ON e.base = t.base
  GROUP BY e.doc_id, t.doc_id
)
SELECT h.eval_doc, h.train_doc, h.n_shared,
  ROUND(CAST(h.n_shared AS DOUBLE) / s.n_sh, 4) AS containment
FROM hits h JOIN ev_sizes s ON s.doc_id = h.eval_doc
WHERE CAST(h.n_shared AS DOUBLE) / s.n_sh >= 0.5
"""


def _decontamination_spark_fn(spark, sf_dir):
    """Containment check with the shingle-hash table persisted once.

    The round-2 dual-dialect SQL re-expanded the shingles CTE per reference
    (ev, train, ev_sizes — Spark re-inlines WITH references), so sf1 paid
    the 10×-bigger shingle build three times plus a string-keyed join: 46 s.
    This path builds the 60-bit md5 base table once via the Arrow shingle
    kernel (the oracle md5s the same strings, so parity is unconditional)
    and joins on longs.

    Join strategy: the EVAL side broadcasts. Decontamination is structurally
    asymmetric — the held-out benchmark corpus is bounded (thousands of
    docs) while the training corpus is the 100 TB side — so hashing the
    eval shingle set to every executor turns the check into one broadcast
    probe scan of train: the 10×-bigger train relation never shuffles, and
    the only exchange left is the tiny matched-pair rollup. (Measured at
    sf1: join phase 1.55 s → 0.6 s.) A 100×-bigger eval set than this
    fixture's 16-byte × ~2M rows would still broadcast comfortably; beyond
    that a real deployment shards the eval set and unions the passes."""
    from pyspark.sql import functions as F2

    based = persisted_shingle_bases(spark, sf_dir, n=DECON_NGRAM)
    ev = based.filter(F2.col("doc_id") % 11 == 0)
    train = based.filter(F2.col("doc_id") % 11 != 0)
    ev_sizes = ev.groupBy("doc_id").agg(F2.count("*").alias("n_sh"))
    hits = (
        F2.broadcast(ev.alias("e"))
        .join(train.alias("t"), F2.col("e.base") == F2.col("t.base"))
        .groupBy(
            F2.col("e.doc_id").alias("eval_doc"), F2.col("t.doc_id").alias("train_doc")
        )
        .agg(F2.count("*").alias("n_shared"))
    )
    cont = F2.col("n_shared").cast("double") / F2.col("n_sh")
    return (
        hits.join(ev_sizes.withColumnRenamed("doc_id", "eval_doc"), "eval_doc")
        .filter(cont >= 0.5)
        .select(
            "eval_doc",
            "train_doc",
            F2.col("n_shared").cast("long").alias("n_shared"),
            F2.round(cont, 4).alias("containment"),
        )
    )


register(
    "decontamination_overlap",
    "Benchmark decontamination: 8-gram CONTAINMENT of each held-out eval "
    "document in the training corpus (every 11th doc plays the eval set; "
    "long n-grams are the published decontamination practice AND the scale "
    "guarantee — shared ones are near-unique so blocking stays linear). "
    "Candidates block on shared 8-gram shingle hashes (equi-join on 60-bit "
    "longs, never all-pairs); containment = |eval shingles found in train "
    "doc| / |eval shingles| >= 0.5 flags the (eval, train) contamination "
    "pair — the containment direction, not Jaccard, is what leakage "
    "checking needs (a small eval doc inside a big train doc must still "
    "flag).",
    sql=_decontamination_duck_sql,
    spark_fn=_decontamination_spark_fn,
)

# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def _ann_brute_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {cosine(d, 'q.embedding', 'c.embedding')} AS cos_sim
  FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _emb_head_vectors(sf_dir: str, n: int):
    """Bounded dimension lookup: the contract-fixed first `n` embedding
    vectors (ANN query set vec_id < 8, k-means/PQ seed sets vec_id < k),
    read DRIVER-SIDE with pyarrow instead of scheduling a Spark job — the
    _fold_events_stats precedent (plans/queries.py): a point lookup
    against a dimension table is a catalog/key-value read on a real
    deployment, not a cluster job, and at the test SFs each replaced job
    was ~0.1-0.15 s of pure scheduling floor multiplied across the six
    ANN-family queries. Returns (ids int64 asc, vectors float64 matrix);
    float32 -> float64 widening is exact, so values are bit-identical to
    the former Spark-side collect."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", n)],
    )
    d = t.to_pydict()
    order = np.argsort(np.array(d["vec_id"], dtype=np.int64), kind="stable")
    ids = np.array(d["vec_id"], dtype=np.int64)[order]
    Q = np.array(d["embedding"], dtype=np.float64)[order]
    return ids, Q


def _bounded_topk_emit(
    spark, scored, k, schema_cols, score_col="cos_sim", ascending=False,
    round_score=True,
):
    """Bounded distributed top-k merge for the ANN family.

    The scoring kernels cap output at 8 rows per (query, partition), so
    collecting `scored` is <= 8 queries x 8 rows x #partitions regardless
    of corpus size — the classic top-k merge. The former row_number window
    shuffled ~64 result rows through a full exchange+sort AQE stage pair,
    and an RDD-backed createDataFrame would schedule two more jobs; a
    VALUES LocalRelation costs none. repr() round-trips doubles exactly,
    and the HALF_UP rounding of the score stays Spark-side so it matches
    the oracle's ROUND (ann_ivf_pq_search skips the rounding: its dyadic
    ADC sums are already bit-exact across engines)."""
    sign = 1.0 if ascending else -1.0
    part = sorted(
        scored.collect(),
        key=lambda r: (r.query_id, sign * getattr(r, score_col), r.neighbor_id),
    )
    rows, last_q, rk = [], None, 0
    for r in part:
        rk = rk + 1 if r.query_id == last_q else 1
        last_q = r.query_id
        if rk <= k:
            rows.append((r, rk))
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in schema_cols)
        return spark.sql(f"SELECT {sel}, CAST(NULL AS BIGINT) AS rank WHERE false")

    def lit(v, t):
        return f"CAST('{v!r}' AS DOUBLE)" if t == "DOUBLE" else str(int(v))

    vals = ", ".join(
        "(" + ", ".join(lit(getattr(r, n), t) for n, t in schema_cols) + f", {rk})"
        for r, rk in rows
    )
    proj = ", ".join(
        f"ROUND({n}, 4) AS {n}"
        if n == score_col and round_score
        else f"CAST({n} AS {t}) AS {n}"
        for n, t in schema_cols
    )
    names = ", ".join(n for n, _ in schema_cols)
    return spark.sql(
        f"SELECT {proj}, CAST(rank AS BIGINT) AS rank"
        f" FROM (VALUES {vals}) AS t({names}, rank)"
    )



def _ann_brute_spark_fn(spark, sf_dir):
    """Brute-force top-k as one GEMM sweep: the 8 query vectors (a bounded,
    contract-fixed set — collecting them is a dimension lookup, not a
    driver-side loop) broadcast into a mapInPandas scan of the corpus; each
    Arrow batch scores all queries with one matrix multiply and emits only
    its local top-8 per query, so the shuffle carries O(batches x 64) rows
    into the global top-5 window. The round-2 dual-dialect SQL form ran the
    dot products through Spark's INTERPRETED higher-order functions — 5 s
    at sf1 (20k vectors) for what is one GEMM (~0.3 s)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids, Q = _emb_head_vectors(sf_dir, 8)
    qnorm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            # dot / (|a| * |b|), same operand order as the SQL formula
            cs = (M @ Q.T) / (np.sqrt((M * M).sum(axis=1))[:, None] * qnorm[None, :])
            out = []
            for j, qid in enumerate(qids):
                col = cs[:, j].copy()
                col[ids == qid] = -np.inf  # exclude self
                top = np.argsort(-col)[:8]
                top = top[np.isfinite(col[top])]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(top), qid, dtype=np.int64),
                            "neighbor_id": ids[top],
                            "cos_sim": col[top],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    scored = emb.mapInPandas(score, "query_id long, neighbor_id long, cos_sim double")
    return _bounded_topk_emit(
        spark, scored, 5,
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("cos_sim", "DOUBLE")],
    )


register(
    "ann_cosine_topk",
    "Brute-force cosine top-k: 8 query vectors against the corpus, exact "
    "top-5 neighbors per query (the ANN correctness baseline); one GEMM "
    "sweep per Arrow batch with local top-8 pruning before the global "
    "top-5 window.",
    sql=_ann_brute_duck_sql,
    spark_fn=_ann_brute_spark_fn,
)

def _ann_lsh_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH {_lsh_buckets_cte(d)},
q AS (SELECT b.vec_id, b.bucket, e.embedding
      FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id WHERE b.vec_id < 8),
c AS (SELECT b.vec_id, b.bucket, e.embedding
      FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {cosine(d, 'q.embedding', 'c.embedding')} AS cos_sim
  FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def _ann_lsh_spark_fn(spark, sf_dir):
    """LSH-bucketed ANN as one fused GEMM scan: the 8 query vectors (a
    bounded, contract-fixed set — a dimension lookup, not a driver loop)
    and their sign buckets broadcast into a mapInPandas sweep; each Arrow
    batch computes candidate buckets AND query cosines with two matrix
    multiplies, masks non-matching buckets, and emits only its local top-8
    per query. No bucket self-join, no embedding shuffle — the exchange
    carries O(batches x 64) rows into the global top-5 window (the earlier
    bucket equi-join shape re-shuffled the full embedding table twice and
    cost ~1.1 s at sf1 for ~0.1 s of BLAS)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    W = np.array([_plane_weights(j) for j in range(1, 9)])  # (8 planes, 64 dims)
    powers = 2 ** np.arange(8)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids, Q = _emb_head_vectors(sf_dir, 8)
    qbuckets = ((Q @ W.T >= 0).astype(np.int64) @ powers)
    qnorm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            bks = (M @ W.T >= 0).astype(np.int64) @ powers
            cs = (M @ Q.T) / (np.sqrt((M * M).sum(axis=1))[:, None] * qnorm[None, :])
            out = []
            for j, (qid, qb) in enumerate(zip(qids, qbuckets)):
                col = cs[:, j].copy()
                col[(bks != qb) | (ids == qid)] = -np.inf
                top = np.argsort(-col)[:8]
                top = top[np.isfinite(col[top])]
                if len(top):
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(top), qid, dtype=np.int64),
                                "neighbor_id": ids[top],
                                "cos_sim": col[top],
                            }
                        )
                    )
            if out:
                yield pd.concat(out)

    scored = emb.mapInPandas(score, "query_id long, neighbor_id long, cos_sim double")
    return _bounded_topk_emit(
        spark, scored, 5,
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"), ("cos_sim", "DOUBLE")],
    )


register(
    "ann_lsh_bucketed",
    "LSH-bucketed ANN (scale path): 8 md5-derived random hyperplanes -> "
    "8-bit sign bucket (GEMM per Arrow batch); queries probe only their own "
    "bucket; exact cosine re-rank inside the bucket. Bucket join replaces "
    "the all-pairs product.",
    sql=_ann_lsh_duck_sql,
    spark_fn=_ann_lsh_spark_fn,
)

# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


def _decode_media_fn(spark, sf_dir):
    from wifi_location_data_pipeline_spark.operators.multimodal import (
        decode_media,
        synthesize_media_from_documents,
    )
    from wifi_location_data_pipeline_spark.sources.tables import load_table

    # sha256 + content-hash feature cost ~10 us/doc — at 1536 rows/task the
    # r11 sizing repartitioned the FULL-TEXT frame (a payload round-robin
    # exchange, guide §2.3's exact anti-pattern) to win parallelism the
    # kernel never uses; 8192 rows/task keeps the scan's own partitioning
    # on any corpus big enough to matter
    docs = _spread_for_python(
        spark, sf_dir, load_table(spark, sf_dir, "documents"), rows_per_task=8192
    )
    media = synthesize_media_from_documents(docs)
    return decode_media(media).select(
        "media_id", "media_type", "byte_size", "content_sha256"
    )


def _sample_frames_fn(spark, sf_dir):
    from wifi_location_data_pipeline_spark.operators.multimodal import (
        sample_frames,
        synthesize_media_from_documents,
    )
    from wifi_location_data_pipeline_spark.sources.tables import load_table

    media = synthesize_media_from_documents(load_table(spark, sf_dir, "documents"))
    return sample_frames(media, every_nth=10)


register(
    "multimodal_manifest",
    "Multimodal manifest rollup: per media-type counts, total payload bytes, "
    "mean duration — the metadata-only scan that must prune the binary "
    "payload column (operators/multimodal.py holds the mapInPandas decode).",
    sql=lambda d: """
WITH media AS (
  SELECT doc_id AS media_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
    CAST(n_chars AS BIGINT) AS byte_size,
    CAST(n_chars AS BIGINT) * 40 AS duration_ms
  FROM documents
)
SELECT media_type,
  CAST(COUNT(*) AS BIGINT) AS n_assets,
  CAST(SUM(byte_size) AS BIGINT) AS total_bytes,
  ROUND(AVG(CAST(duration_ms AS DOUBLE)), 4) AS mean_duration_ms
FROM media GROUP BY media_type
""",
)

register(
    "multimodal_decode",
    "Arrow-batched mapInPandas decode of binary media payloads -> "
    "(byte_size, sha256, feature) with stubbed codecs; the decode itself is "
    "a SHA-256 over payload bytes (deterministic fake). Not SQL-expressible "
    "(Python UDF surface) -> rows-only check.",
    sql=lambda d: """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(n_chars AS BIGINT) AS byte_size,
  sha256(text) AS content_sha256
FROM documents
"""
    if d == "duck"
    else None,
    spark_fn=_decode_media_fn,
)

register(
    "multimodal_frame_sample",
    "Video frame sampling: every-10th-frame explode with the payload column "
    "dropped BEFORE the row multiplication (no blobs in the shuffle).",
    sql=lambda d: """
WITH media AS (
  SELECT doc_id AS media_id, CAST(n_chars % 120 + 1 AS INT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
idx AS (
  SELECT media_id, n_frames,
    unnest(generate_series(0, CAST(FLOOR((n_frames - 1) / 10.0) AS BIGINT))) AS frame_idx
  FROM media
)
SELECT media_id, CAST(frame_idx * 10 AS INT) AS frame_no, n_frames
FROM idx
"""
    if d == "duck"
    else None,
    spark_fn=_sample_frames_fn,
)


# Per-format rows/task for the media kernels, derived from the measured
# per-doc synth+decode cost (single-core, replica-scale documents): jpeg
# ~410 us/doc (progressive Huffman decode), png ~185, wav ~110, mp4 ~70 —
# each targets ~0.15 s of kernel time per task (guide §4: above the
# per-task Arrow+worker floor, below serializing one core). The r11 shared
# 1536-rows/task constant under-fanned jpeg (0.6 s/task) and over-fanned
# the cheap formats into exchange + empty-task overhead.
_MEDIA_ROWS_PER_TASK = {"jpeg": 384, "png": 768, "wav": 1280, "mp4": 2048}


def _media_docs(spark, sf_dir, pred: str, fmt: str = "wav", sel: float = 1 / 3):
    """(doc_id, n_chars) input frame for the media round-trip kernels
    (wav/png/jpeg/mp4 stats), right-sized to the PYTHON work per format
    (_MEDIA_ROWS_PER_TASK) from the table's footer rows, whether the table
    is one file or a directory (see _spread_for_python). sel=1/3: each format slice is exactly a
    third of the corpus by the doc_id modulus, and sizing the fan-out on
    the unfiltered footer count (the r11 form) requested 3x the tasks the
    kernel work justifies."""
    from wifi_location_data_pipeline_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents").filter(pred)
        .select("doc_id", "n_chars")
    )
    return _spread_for_python(
        spark, sf_dir, docs,
        rows_per_task=_MEDIA_ROWS_PER_TASK.get(fmt, 1536), sel=sel,
    )


def _spread_for_python(spark, sf_dir, df, rows_per_task: int, sel: float = 1.0):
    """Right-size a small projection feeding a CPU-heavy Python kernel.

    Partition count follows the PYTHON work (footer row count x sel /
    rows_per_task, cores-capped), not the scan bytes: the kernels cost
    ~0.1-0.5 ms/row while the scan split count follows openCostInBytes
    (1-2 splits for a single-file corpus on the small-corpus profile), so
    fan-out must be requested explicitly — a round-robin exchange of the
    kernel's own input columns costs ~nothing next to the decode it
    parallelizes. coalesce() handles the opposite direction (a directory
    table whose part files split the scan finer than the work needs).
    rows_per_task targets ~0.1-0.25 s of kernel time per task: above the
    per-task Arrow+scheduling floor, below serializing on one core. ``sel`` is the
    fraction of footer rows that survive the caller's pre-filter (the
    media kernels keep exactly one doc_id modulus class), so the fan-out
    follows the rows the kernel will actually see."""
    n_rows = table_probe(sf_dir, "documents").rows
    if n_rows is None:
        return df
    nparts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(n_rows * sel) // rows_per_task + 1,
        ),
    )
    scan_parts = df.rdd.getNumPartitions()
    if scan_parts * 2 <= nparts:
        # an exchange only pays for itself when the scan is MATERIALLY
        # under-split (a 1-2 split single-file corpus): shuffling to
        # gain <2x parallelism costs more in shuffle write/fetch +
        # an extra stage than the extra cores return
        df = df.repartition(nparts)
    elif scan_parts > nparts:
        df = df.coalesce(nparts)
    return df


def _mp4_stats_fn(spark, sf_dir):
    """Round-trips REAL ISO BMFF bytes through Spark: one mapInPandas pass
    builds a deterministic mp4 container per video document
    (synthesize_mp4_payload) and immediately re-derives its stats through
    the box-walk parser (_parse_mp4). The DuckDB oracle predicts the same
    stats in closed form from (doc_id, n_chars), so any parser/builder
    drift (box sizes, stsz table layout, mvhd duration units) fails the
    value gate — the container parser is value-checked end-to-end, not
    just fixture-tested."""
    import pandas as pd

    from wifi_location_data_pipeline_spark.operators.multimodal import (
        _parse_mp4,
        synthesize_mp4_payload,
    )
    docs = _media_docs(spark, sf_dir, "doc_id % 3 = 2", fmt="mp4")

    def kernel(batches):
        for pdf in batches:
            feats = [
                _parse_mp4(synthesize_mp4_payload(int(d), int(n)))
                for d, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "duration_s": [f[0] for f in feats],
                    "n_tracks": [int(f[1]) for f in feats],
                    "n_video_tracks": [int(f[2]) for f in feats],
                    "n_samples": [int(f[3]) for f in feats],
                    "mean_sample_bytes": [f[4] for f in feats],
                    "max_sample_bytes": [int(f[5]) for f in feats],
                    "mdat_bytes": [int(f[6]) for f in feats],
                }
            )

    return docs.mapInPandas(
        kernel,
        "media_id long, duration_s double, n_tracks long, n_video_tracks long,"
        " n_samples long, mean_sample_bytes double, max_sample_bytes long,"
        " mdat_bytes long",
    )


register(
    "multimodal_mp4_stats",
    "mp4 container statistics through the REAL ISO BMFF parser: a "
    "deterministic minimal-but-valid mp4 (ftyp/moov/mvhd/trak/hdlr/stbl/"
    "stsz/mdat) is built per video document and its duration/track/"
    "sample-size stats re-derived by the stdlib box walk; the oracle "
    "predicts the identical stats arithmetically, value-checking the "
    "container parser end-to-end (no codec decode — the sample-data half "
    "genuinely needs external codec libraries).",
    sql=lambda d: """
WITH media AS (
  SELECT doc_id, n_chars, doc_id % 2 AS n_audio,
    [ (n_chars * (i + 3)) % 241 + 16 FOR i IN generate_series(0, n_chars % 7 + 1) ] AS vs
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id AS media_id,
  CAST(n_chars * 40 AS DOUBLE) / CAST(1000 AS DOUBLE) AS duration_s,
  CAST(1 + n_audio AS BIGINT) AS n_tracks,
  CAST(1 AS BIGINT) AS n_video_tracks,
  CAST(len(vs) + 4 * n_audio AS BIGINT) AS n_samples,
  CAST(list_sum(vs) + 64 * 4 * n_audio AS DOUBLE)
    / CAST(len(vs) + 4 * n_audio AS DOUBLE) AS mean_sample_bytes,
  CAST(GREATEST(list_max(vs), CASE WHEN n_audio > 0 THEN 64 ELSE 0 END) AS BIGINT)
    AS max_sample_bytes,
  CAST(list_sum(vs) + 64 * 4 * n_audio AS BIGINT) AS mdat_bytes
FROM media
"""
    if d == "duck"
    else None,
    spark_fn=_mp4_stats_fn,
)


def _wav_stats_fn(spark, sf_dir):
    """Round-trips REAL RIFF/WAVE bytes through Spark: one mapInPandas
    pass builds a deterministic 16-bit PCM square wave per audio document
    (synthesize_wav_payload) and immediately re-derives its audio
    features through the stdlib ``wave`` decode path (_decode_wav) — the
    audio twin of multimodal_mp4_stats. The DuckDB oracle predicts RMS /
    peak / zero-crossing rate / DC offset / duration in closed form from
    (doc_id, n_chars): every sample is a dyadic rational ±amp/2^15 whose
    partial sums stay exact (numerators < 2^46), so the decoded NumPy
    statistics match the SQL arithmetic bit-for-bit — the WAV decoder is
    value-checked end-to-end through Spark, not just fixture-tested."""
    import pandas as pd

    from wifi_location_data_pipeline_spark.operators.multimodal import (
        _decode_wav,
        synthesize_wav_payload,
    )
    docs = _media_docs(spark, sf_dir, "doc_id % 3 = 1", fmt="wav")

    def kernel(batches):
        for pdf in batches:
            feats = [
                _decode_wav(synthesize_wav_payload(int(d), int(n)))
                for d, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "channels": [int(f[0]) for f in feats],
                    "sample_rate": [int(f[1]) for f in feats],
                    "n_frames": [int(f[2]) for f in feats],
                    "rms": [f[3] for f in feats],
                    "peak_amp": [f[4] for f in feats],
                    "zero_cross_rate": [f[5] for f in feats],
                    "dc_offset": [f[6] for f in feats],
                    "duration_s": [f[7] for f in feats],
                }
            )

    return docs.mapInPandas(
        kernel,
        "media_id long, channels long, sample_rate long, n_frames long,"
        " rms double, peak_amp double, zero_cross_rate double,"
        " dc_offset double, duration_s double",
    )


register(
    "multimodal_wav_stats",
    "WAV audio feature extraction through the REAL stdlib PCM decoder: a "
    "deterministic 16-bit square wave is synthesized per audio document "
    "and its RMS / peak / zero-crossing rate / DC offset re-derived from "
    "the decoded samples; the oracle predicts the identical statistics "
    "arithmetically (dyadic-rational samples keep every sum exact), "
    "value-checking the audio decode end-to-end — the audio twin of "
    "multimodal_mp4_stats.",
    sql=lambda d: """
WITH a AS (
  SELECT doc_id,
    doc_id % 2 + 1 AS nch,
    n_chars % 400 + 50 AS nf,
    (doc_id * 7 + 13) % 30000 + 1000 AS amp,
    n_chars % 9 + 3 AS p
  FROM documents WHERE doc_id % 3 = 1
),
b AS (SELECT *, nf // p AS nb, nf % p AS r FROM a),
c AS (
  SELECT *,
    p * ((nb + 1) // 2) + CASE WHEN nb % 2 = 0 THEN r ELSE 0 END AS cnt_plus
  FROM b
)
SELECT doc_id AS media_id,
  CAST(nch AS BIGINT) AS channels,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(nf AS BIGINT) AS n_frames,
  CAST(amp AS DOUBLE) / 32768.0 AS rms,
  CAST(amp AS DOUBLE) / 32768.0 AS peak_amp,
  CAST((nf - 1) // p AS DOUBLE) / CAST(nf * nch - 1 AS DOUBLE) AS zero_cross_rate,
  CAST((2 * cnt_plus - nf) * nch AS DOUBLE) * (CAST(amp AS DOUBLE) / 32768.0)
    / CAST(nf * nch AS DOUBLE) AS dc_offset,
  CAST(nf AS DOUBLE) / 8000.0 AS duration_s
FROM c
"""
    if d == "duck"
    else None,
    spark_fn=_wav_stats_fn,
)


def _png_stats_fn(spark, sf_dir):
    """Round-trips REAL PNG bytes through Spark: one mapInPandas pass
    synthesizes a deterministic PNG per image document — scanlines
    forward-filtered with filter type y % 5, so the corpus exercises
    every unfilter branch (None/Sub/Up/Average/Paeth) and all four
    supported color types — and immediately re-derives pixel statistics
    through the stdlib zlib+struct decode path (_png_pixels). All emitted
    statistics are INTEGERS (sums, squares, min/max, |horizontal diff|
    sums), so the DuckDB oracle predicts them exactly by unnesting the
    same (doc_id % 251 + 3y + 5x + 11c) % 256 pixel formula — the PNG
    decoder (inflate, chunk walk, all five filters) is value-checked
    end-to-end through Spark, the image twin of multimodal_wav_stats /
    multimodal_mp4_stats."""
    import numpy as np
    import pandas as pd

    from wifi_location_data_pipeline_spark.operators.multimodal import (
        _png_pixels,
        synthesize_png_payload,
    )
    docs = _media_docs(spark, sf_dir, "doc_id % 3 = 0", fmt="png")

    def kernel(batches):
        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "channels": [],
                "n_px": [], "px_sum": [], "px_sq_sum": [], "px_min": [],
                "px_max": [], "hdiff_sum": [],
            }
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                px = _png_pixels(synthesize_png_payload(int(d), int(n)))
                p = px.astype(np.int64)
                h, w, nch = p.shape
                rows["media_id"].append(int(d))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(nch)
                rows["n_px"].append(h * w * nch)
                rows["px_sum"].append(int(p.sum()))
                rows["px_sq_sum"].append(int((p * p).sum()))
                rows["px_min"].append(int(p.min()))
                rows["px_max"].append(int(p.max()))
                rows["hdiff_sum"].append(int(np.abs(np.diff(p, axis=1)).sum()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "media_id long, width long, height long, channels long, n_px long,"
        " px_sum long, px_sq_sum long, px_min long, px_max long, hdiff_sum long",
    )


register(
    "multimodal_png_stats",
    "PNG pixel statistics through the REAL stdlib decoder: deterministic "
    "PNGs (every scanline filter type, all four color types) synthesized "
    "per image document, decoded back via zlib inflate + full unfilter, "
    "integer pixel stats re-derived; the oracle unnests the same pixel "
    "formula and must agree exactly — value-checking inflate, chunk walk "
    "and all five PNG filters end-to-end through Spark.",
    sql=lambda d: """
WITH img AS (
  SELECT doc_id, n_chars % 12 + 4 AS w, doc_id % 8 + 3 AS h,
    CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS nch,
    doc_id % 251 AS base
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h, nch,
    (base + 3 * y.i + 5 * x.i + 11 * c.i) % 256 AS v,
    CASE WHEN x.i < w - 1
         THEN ABS((base + 3 * y.i + 5 * (x.i + 1) + 11 * c.i) % 256
                  - (base + 3 * y.i + 5 * x.i + 11 * c.i) % 256)
         ELSE 0 END AS hd
  -- DuckDB's generate_series cannot take lateral column bounds; the
  -- dimensions are residue-bounded constants (h<=10, w<=15, nch<=4), so
  -- fixed ranges + WHERE filters enumerate the same lattice
  FROM img,
    generate_series(0, 9) AS y(i),
    generate_series(0, 14) AS x(i),
    generate_series(0, 3) AS c(i)
  WHERE y.i < h AND x.i < w AND c.i < nch
)
SELECT doc_id AS media_id,
  CAST(MIN(w) AS BIGINT) AS width,
  CAST(MIN(h) AS BIGINT) AS height,
  CAST(MIN(nch) AS BIGINT) AS channels,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(v) AS BIGINT) AS px_sum,
  CAST(SUM(v * v) AS BIGINT) AS px_sq_sum,
  CAST(MIN(v) AS BIGINT) AS px_min,
  CAST(MAX(v) AS BIGINT) AS px_max,
  CAST(SUM(hd) AS BIGINT) AS hdiff_sum
FROM px GROUP BY doc_id
"""
    if d == "duck"
    else None,
    spark_fn=_png_stats_fn,
)


def _jpeg_stats_fn(spark, sf_dir):
    """Round-trips REAL baseline JPEG bytes through Spark: one mapInPandas
    pass synthesizes a deterministic DC-only JPEG per image document —
    grayscale / 4:2:0 / 4:4:4 by (doc_id // 3) % 3, DRI restart markers on
    doc_id % 5 == 0 — and immediately re-derives pixel statistics through
    the stdlib+NumPy decode path (_jpeg_pixels: marker walk, canonical
    Huffman entropy decode, byte unstuffing, RSTn resync, dequantize,
    exact IDCT, chroma upsampling, YCbCr->RGB). DC-only blocks with luma
    quant step 8 and neutral chroma make every decoded pixel the exact
    integer 128 + dc(y//8, x//8), so the DuckDB oracle predicts all
    emitted statistics in closed form — the JPEG decoder is value-checked
    end-to-end through Spark, completing the wav/png/mp4 codec-gate
    family."""
    import numpy as np
    import pandas as pd

    from wifi_location_data_pipeline_spark.operators.multimodal import (
        _jpeg_pixels,
        synthesize_jpeg_payload,
    )
    docs = _media_docs(spark, sf_dir, "doc_id % 6 = 1", fmt="jpeg", sel=1 / 6)

    def kernel(batches):
        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "channels": [],
                "n_px": [], "px_sum": [], "px_sq_sum": [], "px_min": [],
                "px_max": [], "hdiff_sum": [],
            }
            for d, n in zip(pdf["doc_id"], pdf["n_chars"]):
                px = _jpeg_pixels(synthesize_jpeg_payload(int(d), int(n)))
                p = px.astype(np.int64)
                h, w, nch = p.shape
                rows["media_id"].append(int(d))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(nch)
                rows["n_px"].append(h * w * nch)
                rows["px_sum"].append(int(p.sum()))
                rows["px_sq_sum"].append(int((p * p).sum()))
                rows["px_min"].append(int(p.min()))
                rows["px_max"].append(int(p.max()))
                rows["hdiff_sum"].append(int(np.abs(np.diff(p, axis=1)).sum()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "media_id long, width long, height long, channels long, n_px long,"
        " px_sum long, px_sq_sum long, px_min long, px_max long, hdiff_sum long",
    )


register(
    "multimodal_jpeg_stats",
    "JPEG pixel statistics through the REAL stdlib+NumPy decoder: "
    "deterministic DC-only baseline JPEGs (grayscale / 4:2:0 / 4:4:4, "
    "restart markers on a fifth of the corpus) synthesized per image "
    "document, decoded back via Huffman entropy decode + exact IDCT + "
    "chroma upsampling + YCbCr->RGB, integer pixel stats re-derived; the "
    "oracle evaluates the same per-block closed form and must agree "
    "exactly — value-checking the JPEG decode path end-to-end through "
    "Spark.",
    sql=lambda d: """
WITH img AS (
  SELECT doc_id, n_chars % 21 + 4 AS w, doc_id % 19 + 4 AS h,
    CASE WHEN (doc_id // 3) % 3 = 0 THEN 1 ELSE 3 END AS nch
  FROM documents WHERE doc_id % 6 = 1
),
px AS (
  SELECT doc_id, w, h, nch,
    128 + (doc_id * 7 + 13 * (y.i // 8) + 29 * (x.i // 8)) % 241 - 120 AS v,
    CASE WHEN x.i < w - 1
         THEN ABS((doc_id * 7 + 13 * (y.i // 8) + 29 * ((x.i + 1) // 8)) % 241
                  - (doc_id * 7 + 13 * (y.i // 8) + 29 * (x.i // 8)) % 241)
         ELSE 0 END AS hd
  -- dims are residue-bounded constants (h<=22, w<=24, nch<=3), so fixed
  -- ranges + WHERE filters enumerate the same lattice (same pattern as
  -- the PNG oracle)
  FROM img,
    generate_series(0, 21) AS y(i),
    generate_series(0, 23) AS x(i),
    generate_series(0, 2) AS c(i)
  WHERE y.i < h AND x.i < w AND c.i < nch
)
SELECT doc_id AS media_id,
  CAST(MIN(w) AS BIGINT) AS width,
  CAST(MIN(h) AS BIGINT) AS height,
  CAST(MIN(nch) AS BIGINT) AS channels,
  CAST(COUNT(*) AS BIGINT) AS n_px,
  CAST(SUM(v) AS BIGINT) AS px_sum,
  CAST(SUM(v * v) AS BIGINT) AS px_sq_sum,
  CAST(MIN(v) AS BIGINT) AS px_min,
  CAST(MAX(v) AS BIGINT) AS px_max,
  CAST(SUM(hd) AS BIGINT) AS hdiff_sum
FROM px GROUP BY doc_id
"""
    if d == "duck"
    else None,
    spark_fn=_jpeg_stats_fn,
)


def _ann_ivf_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH elems AS ({_vec_elems(d)}),
labeled AS (
  SELECT e.vec_id, em.label, e.dim, e.x
  FROM elems e JOIN embeddings em ON em.vec_id = e.vec_id
),
cent AS (
  SELECT label, dim, AVG(x) AS cx FROM labeled GROUP BY label, dim
),
cent_norm AS (SELECT label, sqrt(SUM(cx * cx)) AS norm_c FROM cent GROUP BY label),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
q_elems AS (
  SELECT e.vec_id, e.dim, e.x FROM elems e WHERE e.vec_id < 8
),
q_assign AS (
  SELECT vec_id, label FROM (
    SELECT qe.vec_id, c.label,
      ROW_NUMBER() OVER (
        PARTITION BY qe.vec_id
        ORDER BY SUM(qe.x * c.cx) / MIN(cn.norm_c) DESC, c.label
      ) AS rn
    FROM q_elems qe
      JOIN cent c ON c.dim = qe.dim
      JOIN cent_norm cn ON cn.label = c.label
    GROUP BY qe.vec_id, c.label
  ) t WHERE rn = 1
),
scored AS (
  SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id, qa.label,
    {cosine(d, 'q.embedding', 'c.embedding')} AS cos_sim
  FROM q_assign qa
    JOIN q ON q.vec_id = qa.vec_id
    JOIN embeddings c ON c.label = qa.label AND c.vec_id <> qa.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, label, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, label AS probed_list,
  ROUND(cos_sim, 4) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def _fit_ivf_centroids(spark, emb):
    """Per-label mean embedding: (ascending labels, |labels| x dims matrix)."""
    import numpy as np
    from pyspark.sql import functions as F2

    # AQE off for this one bounded collect: the |labels| x |dims| grid
    # is 640 rows, and AQE's materialize-then-replan split turns the
    # tiny two-stage agg into two scheduled jobs (~0.15 s of pure job
    # floor). (A union folding the 8-query collect into the same job
    # was measured slower — it re-scans the exploded elements twice
    # inside one stage.)
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cent_rows = (
            emb.select("label", F2.posexplode("embedding").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(F2.avg(F2.col("x").cast("double")).alias("cx"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    labels = sorted({r.label for r in cent_rows})
    dims = 1 + max(r.dim for r in cent_rows)
    C = np.zeros((len(labels), dims), dtype=np.float64)
    lab_idx = {lab: i for i, lab in enumerate(labels)}
    for r in cent_rows:
        C[lab_idx[r.label], r.dim] = r.cx
    return labels, C


def _ann_ivf_spark_fn(spark, sf_dir):
    """IVF probe as bounded lookups + one fused GEMM scan: the per-label
    centroid grid partial-aggregates map-side under posexplode (shuffle =
    |labels| x |dims| rows), the 10-row centroid table and the 8 query
    vectors are bounded collects (dimension lookups, not driver loops),
    query->list assignment is a 8x10 argmax on the driver, and the probe
    itself is one mapInPandas GEMM sweep that masks rows outside the
    assigned list. The round-4 shared-SQL form exploded 1.3 M element rows
    through three joins on Spark (~1.5 s at sf1 for ~0.1 s of BLAS); the
    DuckDB oracle keeps that independent formulation."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    # (labels, C), the fitted coarse quantizer. An IVF index's centroids are
    # a TRAINED, PERSISTED artifact (that is the point of an inverted-file
    # index — FAISS/Milvus never refit the coarse quantizer per probe; the
    # engine's ivf_kmeans_train is that trainer), so repeated probes against
    # the same corpus reuse the fit as a corpus memo, the way the service
    # family reuses analyzed plans: a regenerated corpus refits. The first
    # probe on a corpus (the driver's one-shot correctness gate, always)
    # computes it distributed from data.
    labels, C = corpus_memo.memo(
        spark, sf_dir, "ivf_centroids", lambda: _fit_ivf_centroids(spark, emb)
    )
    cnorm = np.sqrt((C * C).sum(axis=1))

    qids, Q = _emb_head_vectors(sf_dir, 8)
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    # nearest coarse centroid by dot/|c|; ties -> smallest label (labels
    # ascending + argmax-first matches the oracle's ORDER BY ... DESC, label)
    sims = (Q @ C.T) / cnorm[None, :]
    q_lab = np.array([labels[int(np.argmax(sims[i]))] for i in range(len(qids))])

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            labs = pdf["label"].to_numpy()
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            cs = (M @ Q.T) / (np.sqrt((M * M).sum(axis=1))[:, None] * qnorm[None, :])
            out = []
            for j, qid in enumerate(qids):
                col = cs[:, j].copy()
                col[(labs != q_lab[j]) | (ids == qid)] = -np.inf
                top = np.argsort(-col)[:8]
                top = top[np.isfinite(col[top])]
                if len(top):
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(top), qid, dtype=np.int64),
                                "neighbor_id": ids[top],
                                "probed_list": np.full(len(top), q_lab[j], dtype=np.int32),
                                "cos_sim": col[top],
                            }
                        )
                    )
            if out:
                yield pd.concat(out)

    # only the probed inverted lists reach the Python kernel: the label
    # IN-filter runs JVM-side (and reaches the parquet scan as a pushed
    # filter), so unprobed lists are never Arrow-transferred
    probed = emb.filter(F2.col("label").isin([int(x) for x in set(q_lab)]))
    # right-size the python stage to the PROBED bytes (single-file test
    # corpora split into ~21 scan tasks of a few hundred KB each; at 6k
    # probed rows the per-task Arrow+worker floor is 2/3 of the stage —
    # 0.33 s -> 0.23 s at sf1 when merged to ~2 MB/task). A directory
    # table is merged the same way: coalesce only lowers its split count.
    fsz = table_probe(sf_dir, "embeddings").bytes
    frac = len({int(x) for x in q_lab}) / max(1, len(labels))
    nparts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            int(fsz * frac) // (2 << 20) + 1,
        ),
    )
    probed = probed.coalesce(nparts)
    scored = probed.mapInPandas(
        score, "query_id long, neighbor_id long, probed_list int, cos_sim double"
    )
    return _bounded_topk_emit(
        spark, scored, 3,
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
         ("probed_list", "INT"), ("cos_sim", "DOUBLE")],
    )


register(
    "ann_ivf_probe",
    "IVF-style ANN probe: coarse centroids per label partition, each query "
    "routed to its nearest centroid (cosine argmax), exact top-3 re-rank "
    "ONLY within that inverted list — the candidate set shrinks by the "
    "partition fan-out instead of scanning the corpus.",
    sql=_ann_ivf_duck_sql,
    spark_fn=_ann_ivf_spark_fn,
)

def _ivf_kmeans_duck_sql(d: str) -> str | None:
    """Two unrolled Lloyd iterations in plain SQL (the DuckDB oracle for
    the iterative trainer — iteration count is a fixed contract, so the
    'iterative' algorithm IS SQL-expressible by unrolling)."""
    if d == "spark":
        return None
    dist = (
        "list_sum([ (v.e[i] - {c}[i]) * (v.e[i] - {c}[i])"
        " FOR i IN generate_series(1, len(v.e)) ])"
    )
    return f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
),
c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 10),
d1 AS (
  SELECT v.vec_id, c0.cid, {dist.format(c='c0.c')} AS d
  FROM v CROSS JOIN c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d1) t WHERE rn = 1
),
n1 AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n1 FROM a1 GROUP BY cid),
upd AS (
  SELECT a1.cid, dim.i AS dim,
    FLOOR(AVG(v.e[dim.i]) * 1048576.0 + 0.5) / CAST(1048576.0 AS DOUBLE) AS cq
  FROM a1 JOIN v USING (vec_id), generate_series(1, 64) AS dim(i)
  GROUP BY a1.cid, dim.i
),
c1 AS (
  SELECT cid, list(cq ORDER BY dim) AS c,
    sqrt(list_sum([ x * x FOR x IN list(cq ORDER BY dim) ])) AS norm
  FROM upd GROUP BY cid
),
d2 AS (
  SELECT v.vec_id, c1.cid, {dist.format(c='c1.c')} AS d
  FROM v CROSS JOIN c1
),
a2 AS (
  SELECT vec_id, cid, d FROM (
    SELECT vec_id, cid, d, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d2) t WHERE rn = 1
),
m2 AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n2, SUM(d) AS inertia
  FROM a2 GROUP BY cid
)
SELECT c1.cid AS cluster_id, n1.n1 AS n1,
  COALESCE(m2.n2, CAST(0 AS BIGINT)) AS n2,
  ROUND(c1.norm, 6) AS centroid_norm,
  ROUND(COALESCE(m2.inertia, CAST(0 AS DOUBLE)), 2) AS inertia
FROM c1 JOIN n1 USING (cid) LEFT JOIN m2 USING (cid)
"""


def _ivf_kmeans_spark_fn(spark, sf_dir):
    """IVF coarse-quantizer TRAINING as two deterministic Lloyd iterations
    (the ann_ivf_probe companion: probe uses label lists; this trains
    k=10 centroids from data). Iteration count is a fixed contract, so
    the oracle unrolls the same two steps in SQL — an ITERATIVE algorithm
    with a full value check, not a rows-only demo.

    Plan shape (the 1000-executor shape): init = one bounded 10-row
    collect (deterministic seed vectors, the standard fixed-init used to
    make distributed k-means reproducible); each iteration is ONE
    mapInPandas GEMM sweep emitting per-partition partial sums
    (<= partitions x k rows — the map-side-combine shape), merged on the
    driver. Cross-engine exactness: iter-1 distances compare exact inputs
    (argmin ties break by centroid id identically); the UPDATED centroids
    are quantized to the 2^-20 dyadic grid in BOTH engines (the GDOP
    discipline) so iter-2 runs on bit-identical centroids; n1/n2 are
    exact integers; norm/inertia round far above GEMM-vs-fold
    accumulation noise."""
    import numpy as np
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _, C0 = _emb_head_vectors(sf_dir, 10)
    k, dims = C0.shape

    def sweep(C, want_inertia):
        cn = (C * C).sum(axis=1)

        def kernel(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array(list(pdf["embedding"]), dtype=np.float64)
                d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cn[None, :]
                a = np.argmin(d, axis=1)  # ties -> lowest cid, like ORDER BY d, cid
                rows = {"cid": [], "n": [], "s": [], "inertia": []}
                for c in np.unique(a):
                    m = a == c
                    rows["cid"].append(int(c))
                    rows["n"].append(int(m.sum()))
                    rows["s"].append(V[m].sum(axis=0).tolist())
                    rows["inertia"].append(float(d[m, c].sum()))
                yield pd.DataFrame(rows)

        return emb.mapInPandas(
            kernel, "cid long, n long, s array<double>, inertia double"
        ).collect()  # bounded: <= partitions x k rows by construction

    # iteration 1: assignment counts + per-cluster vector sums
    p1 = sweep(C0, want_inertia=False)
    n1 = np.zeros(k, dtype=np.int64)
    S = np.zeros((k, dims), dtype=np.float64)
    for r in p1:
        n1[r.cid] += r.n
        S[r.cid] += np.array(r.s)
    live = [c for c in range(k) if n1[c] > 0]
    # dyadic-grid centroid update: both engines then run iter 2 on
    # bit-identical centroids (the GDOP rounding discipline)
    C1 = np.floor((S[live] / n1[live][:, None]) * 1048576.0 + 0.5) / 1048576.0
    norms = np.sqrt((C1 * C1).sum(axis=1))

    # iteration 2: counts + within-cluster inertia against quantized C1
    p2 = sweep(C1, want_inertia=True)
    n2 = np.zeros(len(live), dtype=np.int64)
    inertia = np.zeros(len(live), dtype=np.float64)
    for r in p2:
        n2[r.cid] += r.n
        inertia[r.cid] += r.inertia

    vals = ", ".join(
        f"({int(live[i])}, {int(n1[live[i]])}, {int(n2[i])},"
        f" CAST('{float(norms[i])!r}' AS DOUBLE), CAST('{float(inertia[i])!r}' AS DOUBLE))"
        for i in range(len(live))
    )
    return spark.sql(
        "SELECT CAST(cluster_id AS BIGINT) AS cluster_id,"
        " CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,"
        " ROUND(centroid_norm, 6) AS centroid_norm, ROUND(inertia, 2) AS inertia"
        f" FROM (VALUES {vals}) AS t(cluster_id, n1, n2, centroid_norm, inertia)"
    )


register(
    "ivf_kmeans_train",
    "IVF coarse-quantizer training: two deterministic Lloyd iterations "
    "(fixed seed vectors, k=10) — per-iteration GEMM assignment sweeps "
    "emitting bounded per-partition partial sums, dyadic-quantized "
    "centroid update so both engines run iteration 2 on bit-identical "
    "centroids. The oracle unrolls the same two steps in SQL, giving an "
    "ITERATIVE algorithm a full value check (cluster sizes per iteration, "
    "centroid norms, within-cluster inertia). Companion to ann_ivf_probe "
    "(train the lists; probe searches them).",
    sql=_ivf_kmeans_duck_sql,
    spark_fn=_ivf_kmeans_spark_fn,
)


_PQ_M, _PQ_SUBDIM, _PQ_K = 4, 16, 4  # 4 subspaces x 16 dims, 4 codes each


def _pq_train_duck_sql(d: str) -> str | None:
    """Product-quantization codebook training unrolled in SQL: the same
    two Lloyd iterations as _ivf_kmeans_duck_sql, run independently per
    16-dim SUBSPACE (DuckDB 1-based list slicing carves the subvectors;
    the subspace id rides every relation as a grouping key)."""
    if d == "spark":
        return None
    sd, k = _PQ_SUBDIM, _PQ_K
    dist = (
        "list_sum([ (v.sv[i] - {c}[i]) * (v.sv[i] - {c}[i])"
        f" FOR i IN generate_series(1, {sd}) ])"
    )
    return f"""
WITH v AS (
  SELECT vec_id, m.i AS sub,
    [CAST(x AS DOUBLE) FOR x IN embedding][m.i * {sd} + 1 : m.i * {sd} + {sd}] AS sv
  FROM embeddings, generate_series(0, {_PQ_M - 1}) AS m(i)
),
c0 AS (SELECT sub, vec_id AS cid, sv AS c FROM v WHERE vec_id < {k}),
d1 AS (
  SELECT v.sub, v.vec_id, c0.cid, {dist.format(c='c0.c')} AS d
  FROM v JOIN c0 ON c0.sub = v.sub
),
a1 AS (
  SELECT sub, vec_id, cid FROM (
    SELECT sub, vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY sub, vec_id ORDER BY d, cid) AS rn
    FROM d1) t WHERE rn = 1
),
n1 AS (SELECT sub, cid, CAST(COUNT(*) AS BIGINT) AS n1 FROM a1 GROUP BY sub, cid),
upd AS (
  SELECT a1.sub, a1.cid, dim.i AS dim,
    FLOOR(AVG(v.sv[dim.i]) * 1048576.0 + 0.5) / CAST(1048576.0 AS DOUBLE) AS cq
  FROM a1 JOIN v ON v.sub = a1.sub AND v.vec_id = a1.vec_id,
    generate_series(1, {sd}) AS dim(i)
  GROUP BY a1.sub, a1.cid, dim.i
),
c1 AS (
  SELECT sub, cid, list(cq ORDER BY dim) AS c,
    sqrt(list_sum([ x * x FOR x IN list(cq ORDER BY dim) ])) AS norm
  FROM upd GROUP BY sub, cid
),
d2 AS (
  SELECT v.sub, v.vec_id, c1.cid, {dist.format(c='c1.c')} AS d
  FROM v JOIN c1 ON c1.sub = v.sub
),
a2 AS (
  SELECT sub, vec_id, cid, d FROM (
    SELECT sub, vec_id, cid, d,
      ROW_NUMBER() OVER (PARTITION BY sub, vec_id ORDER BY d, cid) AS rn
    FROM d2) t WHERE rn = 1
),
m2 AS (
  SELECT sub, cid, CAST(COUNT(*) AS BIGINT) AS n2, SUM(d) AS sse
  FROM a2 GROUP BY sub, cid
)
SELECT c1.sub AS subspace, c1.cid AS code, n1.n1 AS n1,
  COALESCE(m2.n2, CAST(0 AS BIGINT)) AS n2,
  ROUND(c1.norm, 6) AS centroid_norm,
  ROUND(COALESCE(m2.sse, CAST(0 AS DOUBLE)), 2) AS sse
FROM c1 JOIN n1 USING (sub, cid) LEFT JOIN m2 USING (sub, cid)
"""


def _pq_train_spark_fn(spark, sf_dir):
    """Product-quantization codebook training (the PQ half of IVF-PQ, the
    canonical billion-vector ANN layout: ivf_kmeans_train learns the
    coarse lists, this learns the per-subspace code books that compress
    the residual vectors). Two deterministic Lloyd iterations per 16-dim
    subspace, k=4 codes each — fixed seed subvectors, dyadic-quantized
    centroid update (the ivf_kmeans_train / GDOP discipline) so both
    engines run iteration 2 on bit-identical code books; the oracle
    unrolls the same two steps per subspace in SQL, fully value-checking
    code-assignment counts per iteration, code-book norms and
    within-code SSE (the quantization-error budget a PQ deployment
    monitors).

    Plan shape (the 1000-executor shape): init is one bounded k-row
    collect; each iteration is ONE mapInPandas sweep over the embeddings
    scan that GEMMs ALL subspaces per Arrow batch and emits bounded
    per-partition partials (<= partitions x M x k rows — the
    map-side-combine shape), merged on the driver. The vectors are never
    shuffled; only code-book-sized relations move."""
    import numpy as np
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    M, sd, k = _PQ_M, _PQ_SUBDIM, _PQ_K
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # C[m] is the (k, sd) code book of subspace m
    _, seed = _emb_head_vectors(sf_dir, k)
    C0 = [seed[:, m * sd : (m + 1) * sd].copy() for m in range(M)]

    def sweep(C):
        cn = [(Cm * Cm).sum(axis=1) for Cm in C]

        def kernel(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array(list(pdf["embedding"]), dtype=np.float64)
                rows = {"sub": [], "cid": [], "n": [], "s": [], "sse": []}
                for m in range(M):
                    Vm = V[:, m * sd : (m + 1) * sd]
                    dm = (
                        (Vm * Vm).sum(axis=1)[:, None]
                        - 2.0 * (Vm @ C[m].T)
                        + cn[m][None, :]
                    )
                    a = np.argmin(dm, axis=1)  # ties -> lowest code id
                    for c in np.unique(a):
                        sel = a == c
                        rows["sub"].append(m)
                        rows["cid"].append(int(c))
                        rows["n"].append(int(sel.sum()))
                        rows["s"].append(Vm[sel].sum(axis=0).tolist())
                        rows["sse"].append(float(dm[sel, c].sum()))
                yield pd.DataFrame(rows)

        return emb.mapInPandas(
            kernel, "sub int, cid long, n long, s array<double>, sse double"
        ).collect()  # bounded: <= partitions x M x k rows by construction

    p1 = sweep(C0)
    n1 = np.zeros((M, k), dtype=np.int64)
    S = np.zeros((M, k, sd), dtype=np.float64)
    for r in p1:
        n1[r.sub, r.cid] += r.n
        S[r.sub, r.cid] += np.array(r.s)
    live = [(m, c) for m in range(M) for c in range(k) if n1[m, c] > 0]
    C1 = [np.zeros((0, sd))] * M
    lives = {m: [c for mm, c in live if mm == m] for m in range(M)}
    for m in range(M):
        cs = lives[m]
        C1[m] = np.floor(
            (S[m, cs] / n1[m, cs][:, None]) * 1048576.0 + 0.5
        ) / 1048576.0

    p2 = sweep(C1)
    n2 = {key: 0 for key in live}
    sse = {key: 0.0 for key in live}
    for r in p2:
        key = (r.sub, lives[r.sub][r.cid])
        n2[key] += r.n
        sse[key] += r.sse

    vals = ", ".join(
        f"({m}, {lives[m][j]}, {int(n1[m, lives[m][j]])}, {int(n2[(m, lives[m][j])])},"
        f" CAST('{float(np.sqrt((C1[m][j] * C1[m][j]).sum()))!r}' AS DOUBLE),"
        f" CAST('{float(sse[(m, lives[m][j])])!r}' AS DOUBLE))"
        for m in range(M)
        for j in range(len(lives[m]))
    )
    return spark.sql(
        "SELECT CAST(subspace AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,"
        " CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,"
        " ROUND(centroid_norm, 6) AS centroid_norm, ROUND(sse, 2) AS sse"
        f" FROM (VALUES {vals}) AS t(subspace, code, n1, n2, centroid_norm, sse)"
    )


register(
    "embedding_pq_train",
    "Product-quantization code-book training: two deterministic Lloyd "
    "iterations per 16-dim subspace (4 subspaces x 4 codes, fixed seed "
    "subvectors, dyadic-quantized updates) — each iteration is one "
    "mapInPandas sweep GEMMing all subspaces per Arrow batch into bounded "
    "partials; vectors never shuffle. With ivf_kmeans_train this "
    "completes the IVF-PQ pair, the canonical billion-vector ANN layout. "
    "The oracle unrolls both iterations per subspace in SQL, value-"
    "checking assignment counts, code-book norms and quantization SSE.",
    sql=_pq_train_duck_sql,
    spark_fn=_pq_train_spark_fn,
)


def _ivf_pq_search_duck_sql(d: str) -> str | None:
    """The full IVF-PQ search unrolled in SQL: pq_train's code-book CTEs
    up to c1 (one Lloyd update, dyadic-quantized), ann_ivf_probe's
    per-label coarse routing, PQ-encode every base vector (argmin over c1,
    ties -> lowest code), then asymmetric-distance (ADC) ranking — the
    query's per-(subspace, code) lookup table entries are quantized to the
    2^-20 dyadic grid so the 4-term ADC sums are bit-identical in both
    engines (the ivf_kmeans_train / GDOP order-of-summation discipline)."""
    if d == "spark":
        return None
    sd, k = _PQ_SUBDIM, _PQ_K
    dist = (
        "list_sum([ ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])"
        f" FOR i IN generate_series(1, {sd}) ])"
    )
    return f"""
WITH v AS (
  SELECT vec_id, m.i AS sub,
    [CAST(x AS DOUBLE) FOR x IN embedding][m.i * {sd} + 1 : m.i * {sd} + {sd}] AS sv
  FROM embeddings, generate_series(0, {_PQ_M - 1}) AS m(i)
),
c0 AS (SELECT sub, vec_id AS cid, sv AS c FROM v WHERE vec_id < {k}),
d1 AS (
  SELECT v.sub, v.vec_id, c0.cid, {dist.format(v='v.sv', c='c0.c')} AS d
  FROM v JOIN c0 ON c0.sub = v.sub
),
a1 AS (
  SELECT sub, vec_id, cid FROM (
    SELECT sub, vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY sub, vec_id ORDER BY d, cid) AS rn
    FROM d1) t WHERE rn = 1
),
upd AS (
  SELECT a1.sub, a1.cid, dim.i AS dim,
    FLOOR(AVG(v.sv[dim.i]) * 1048576.0 + 0.5) / CAST(1048576.0 AS DOUBLE) AS cq
  FROM a1 JOIN v ON v.sub = a1.sub AND v.vec_id = a1.vec_id,
    generate_series(1, {sd}) AS dim(i)
  GROUP BY a1.sub, a1.cid, dim.i
),
c1 AS (
  SELECT sub, cid, list(cq ORDER BY dim) AS c FROM upd GROUP BY sub, cid
),
enc AS (
  SELECT sub, vec_id, cid FROM (
    SELECT v.sub, v.vec_id, c1.cid,
      ROW_NUMBER() OVER (PARTITION BY v.sub, v.vec_id
        ORDER BY {dist.format(v='v.sv', c='c1.c')}, c1.cid) AS rn
    FROM v JOIN c1 ON c1.sub = v.sub) t WHERE rn = 1
),
elems AS ({_vec_elems(d)}),
labeled AS (
  SELECT e.vec_id, em.label, e.dim, e.x
  FROM elems e JOIN embeddings em ON em.vec_id = e.vec_id
),
cent AS (SELECT label, dim, AVG(x) AS cx FROM labeled GROUP BY label, dim),
cent_norm AS (SELECT label, sqrt(SUM(cx * cx)) AS norm_c FROM cent GROUP BY label),
q_assign AS (
  SELECT vec_id, label FROM (
    SELECT qe.vec_id, c.label,
      ROW_NUMBER() OVER (
        PARTITION BY qe.vec_id
        ORDER BY SUM(qe.x * c.cx) / MIN(cn.norm_c) DESC, c.label
      ) AS rn
    FROM (SELECT * FROM elems WHERE vec_id < 8) qe
      JOIN cent c ON c.dim = qe.dim
      JOIN cent_norm cn ON cn.label = c.label
    GROUP BY qe.vec_id, c.label
  ) t WHERE rn = 1
),
lut AS (
  SELECT qv.vec_id AS query_id, qv.sub, c1.cid,
    FLOOR({dist.format(v='qv.sv', c='c1.c')} * 1048576.0 + 0.5)
      / CAST(1048576.0 AS DOUBLE) AS dq
  FROM v AS qv JOIN c1 ON c1.sub = qv.sub
  WHERE qv.vec_id < 8
),
cand AS (
  SELECT qa.vec_id AS query_id, em.vec_id AS neighbor_id, qa.label
  FROM q_assign qa
    JOIN embeddings em ON em.label = qa.label AND em.vec_id <> qa.vec_id
),
adc AS (
  SELECT c.query_id, c.neighbor_id, c.label, SUM(l.dq) AS adc_dist
  FROM cand c
    JOIN enc e ON e.vec_id = c.neighbor_id
    JOIN lut l ON l.query_id = c.query_id AND l.sub = e.sub AND l.cid = e.cid
  GROUP BY c.query_id, c.neighbor_id, c.label
),
ranked AS (
  SELECT query_id, neighbor_id, label, adc_dist,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, neighbor_id, CAST(label AS BIGINT) AS probed_list,
  adc_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def _ivf_pq_search_spark_fn(spark, sf_dir):
    """IVF-PQ asymmetric-distance search — the query-time half of the
    canonical billion-vector ANN layout (ivf_kmeans_train learns coarse
    lists, embedding_pq_train learns code books; this SEARCHES):

      1. ONE bounded k-row collect seeds the PQ code books.
      2. ONE mapInPandas sweep over the embeddings scan emits, per Arrow
         batch: per-(subspace, code) assignment partials for the Lloyd
         update, per-LABEL vector sums for the coarse centroids, and the
         8 contract-fixed query vectors — three bounded relations folded
         into a single pass (vectors never shuffle).
      3. Driver (all bounded): dyadic-quantized code books C1, coarse
         routing of each query to its nearest label centroid, and the
         8 x M x k ADC lookup table, each entry quantized to the 2^-20
         dyadic grid so the 4-term ADC sums are BIT-IDENTICAL across
         engines regardless of summation order.
      4. ONE mapInPandas pass over the probed inverted lists only (label
         IN-filter pushed to the parquet scan): PQ-encode each row once,
         gather LUT entries per query, keep the per-partition top-8, and
         merge through _bounded_topk_emit's VALUES LocalRelation.

    At 100 TB the plan moves code-book-sized relations and per-partition
    top-8 rows only; the corpus is scanned twice and never shuffled.
    Steps 1-3 (the trained search artifacts: code books, routing, LUTs)
    are a corpus memo like the IVF coarse quantizer — a served index's
    real shape; the DuckDB oracle re-trains every run, so repeat
    invocations amortize the training sweep (disclosed in bench.py's
    amortized_artifact; the driver's one-shot gate always trains from
    data)."""
    from wifi_location_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    qids, q_lab, C1, LUT = corpus_memo.memo(
        spark, sf_dir, "pq_search_artifacts", lambda: _train_pq_search(sf_dir, emb)
    )
    return _pq_probe_emit(spark, emb, qids, q_lab, C1, LUT)


def _train_pq_search(sf_dir, emb):
    """Steps 1-3 of _ivf_pq_search_spark_fn: (query ids, coarse routing,
    dyadic code books, ADC lookup tables)."""
    import numpy as np

    M, sd, k = _PQ_M, _PQ_SUBDIM, _PQ_K
    _, seed = _emb_head_vectors(sf_dir, k)
    C0 = [seed[:, m * sd : (m + 1) * sd].copy() for m in range(M)]

    def sweep(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(np.int64)
            labs = pdf["label"].to_numpy(np.int64)
            rows = {"sub": [], "cid": [], "n": [], "s": []}
            for m in range(M):
                Vm = V[:, m * sd : (m + 1) * sd]
                dm = ((Vm[:, None, :] - C0[m][None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(dm, axis=1)  # ties -> lowest code id
                for c in np.unique(a):
                    sel = a == c
                    rows["sub"].append(m)
                    rows["cid"].append(int(c))
                    rows["n"].append(int(sel.sum()))
                    rows["s"].append(Vm[sel].sum(axis=0).tolist())
            for lab in np.unique(labs):
                sel = labs == lab
                rows["sub"].append(-1)
                rows["cid"].append(int(lab))
                rows["n"].append(int(sel.sum()))
                rows["s"].append(V[sel].sum(axis=0).tolist())
            for i in np.flatnonzero(ids < 8):
                rows["sub"].append(-2)
                rows["cid"].append(int(ids[i]))
                rows["n"].append(1)
                rows["s"].append(V[i].tolist())
            yield pd.DataFrame(rows)

    partials = emb.mapInPandas(
        sweep, "sub int, cid long, n long, s array<double>"
    ).collect()  # bounded: <= partitions x (M x k + |labels| + 8) rows

    n1 = np.zeros((M, k), dtype=np.int64)
    S = np.zeros((M, k, sd), dtype=np.float64)
    lab_n: dict = {}
    lab_s: dict = {}
    qvecs: dict = {}
    for r in partials:
        if r.sub >= 0:
            n1[r.sub, r.cid] += r.n
            S[r.sub, r.cid] += np.array(r.s)
        elif r.sub == -1:
            lab_n[r.cid] = lab_n.get(r.cid, 0) + r.n
            lab_s[r.cid] = lab_s.get(r.cid, 0.0) + np.array(r.s)
        else:
            qvecs[r.cid] = np.array(r.s)
    lives = {
        m: [c for c in range(k) if n1[m, c] > 0] for m in range(M)
    }
    C1 = [
        np.floor((S[m, lives[m]] / n1[m, lives[m]][:, None]) * 1048576.0 + 0.5)
        / 1048576.0
        for m in range(M)
    ]
    labels = sorted(lab_n)
    C = np.stack([lab_s[lab] / lab_n[lab] for lab in labels])
    cnorm = np.sqrt((C * C).sum(axis=1))
    qids = np.array(sorted(qvecs), dtype=np.int64)
    Q = np.stack([qvecs[q] for q in qids])
    sims = (Q @ C.T) / cnorm[None, :]
    # nearest coarse centroid; argmax-first + ascending labels matches the
    # oracle's ORDER BY ... DESC, label tie-break
    q_lab = np.array([labels[int(np.argmax(sims[i]))] for i in range(len(qids))])
    # ADC lookup tables, dyadic-quantized: LUT[j, m, i] = ||q_m - c1[m][i]||^2
    LUT = [
        np.floor(
            ((Q[:, m * sd : (m + 1) * sd][:, None, :] - C1[m][None, :, :]) ** 2)
            .sum(axis=2) * 1048576.0 + 0.5
        )
        / 1048576.0
        for m in range(M)
    ]
    return qids, q_lab, C1, LUT


def _pq_probe_emit(spark, emb, qids, q_lab, C1, LUT):
    """Step 4 of the IVF-PQ search: the ADC probe scan over the routed
    inverted lists with the (possibly memoized) trained artifacts."""
    import numpy as np
    from pyspark.sql import functions as F2

    M, sd = _PQ_M, _PQ_SUBDIM

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            labs = pdf["label"].to_numpy(np.int64)
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            # PQ-encode every row once (shared across queries), then the
            # ADC estimate is a pure LUT gather + 4-term exact dyadic sum
            dist = np.zeros((len(ids), len(qids)))
            for m in range(M):
                Vm = V[:, m * sd : (m + 1) * sd]
                dm = ((Vm[:, None, :] - C1[m][None, :, :]) ** 2).sum(axis=2)
                dist += LUT[m][:, np.argmin(dm, axis=1)].T
            out = []
            for j, qid in enumerate(qids):
                col = dist[:, j].copy()
                col[(labs != q_lab[j]) | (ids == qid)] = np.inf
                top = np.argsort(col, kind="stable")[:8]
                top = top[np.isfinite(col[top])]
                if len(top):
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(top), qid, dtype=np.int64),
                                "neighbor_id": ids[top],
                                "probed_list": np.full(
                                    len(top), q_lab[j], dtype=np.int64
                                ),
                                "adc_dist": col[top],
                            }
                        )
                    )
            if out:
                yield pd.concat(out)

    probed = emb.filter(F2.col("label").isin([int(x) for x in set(q_lab)]))
    scored = probed.mapInPandas(
        score, "query_id long, neighbor_id long, probed_list long, adc_dist double"
    )
    return _bounded_topk_emit(
        spark, scored, 3,
        [("query_id", "BIGINT"), ("neighbor_id", "BIGINT"),
         ("probed_list", "BIGINT"), ("adc_dist", "DOUBLE")],
        score_col="adc_dist", ascending=True, round_score=False,
    )


register(
    "ann_ivf_pq_search",
    "IVF-PQ asymmetric-distance search (the query-time half of the "
    "canonical billion-vector ANN layout): coarse routing to each query's "
    "nearest label centroid, PQ codes from one dyadic-quantized Lloyd "
    "update, and ADC top-3 within the probed inverted list via an 8 x M x "
    "k lookup table whose 2^-20-quantized entries make the 4-term distance "
    "sums bit-identical across engines. One bounded seed collect + one "
    "partial-aggregate sweep + one probe scan; vectors never shuffle.",
    sql=_ivf_pq_search_duck_sql,
    spark_fn=_ivf_pq_search_spark_fn,
)


def _ann_recall_duck_sql(d: str) -> str | None:
    """Recall@k of every approximate index against the brute-force
    baseline, composed from the four ANN entries' own oracle texts as
    nested-WITH subqueries — so this oracle certifies the same pipelines
    the individual entries certify, plus the recall arithmetic. The
    recall ratio is integer-exact (hits/k on the 1e-4 grid via integer
    FLOOR), never a cross-engine float comparison."""
    if d == "spark":
        return None
    return f"""
WITH brute AS ({_ann_brute_duck_sql(d)}),
lsh AS ({_ann_lsh_duck_sql(d)}),
ivf AS ({_ann_ivf_duck_sql(d)}),
pq AS ({_ivf_pq_search_duck_sql(d)}),
methods AS (
  SELECT 'lsh_bucketed' AS method, query_id, neighbor_id FROM lsh
  UNION ALL SELECT 'ivf_probe', query_id, neighbor_id FROM ivf
  UNION ALL SELECT 'ivf_pq', query_id, neighbor_id FROM pq
),
mk AS (SELECT * FROM (VALUES ('lsh_bucketed', CAST(5 AS BIGINT)),
                             ('ivf_probe', CAST(3 AS BIGINT)),
                             ('ivf_pq', CAST(3 AS BIGINT))) AS t(method, k)),
qs AS (SELECT DISTINCT query_id FROM brute),
grid AS (SELECT mk.method, mk.k, qs.query_id FROM mk CROSS JOIN qs),
hits AS (
  SELECT g.method, g.query_id, g.k,
    CAST(COUNT(m.neighbor_id) AS BIGINT) AS n_returned,
    CAST(COUNT(b.neighbor_id) AS BIGINT) AS n_hits
  FROM grid g
    LEFT JOIN methods m
      ON m.method = g.method AND m.query_id = g.query_id
    LEFT JOIN brute b
      ON b.query_id = g.query_id AND b.neighbor_id = m.neighbor_id
         AND b.rank <= g.k
  GROUP BY g.method, g.query_id, g.k
)
SELECT method, query_id, k, n_returned, n_hits,
  CAST(FLOOR(n_hits * 10000.0 / k + 0.5) / CAST(10000.0 AS DOUBLE)
       AS DOUBLE) AS recall_at_k
FROM hits
"""


def _ann_recall_spark_fn(spark, sf_dir):
    """ANN recall@k evaluation (VERDICT r10 #7): the measurement a
    pipeline runs before trusting an index corpus-wide.

    Plan shape — THREE scans total, one of them fused: the two
    full-corpus methods (brute baseline + LSH bucket) share a SINGLE
    mapInPandas sweep whose one GEMM per Arrow batch scores both (the
    cosine expression is operand-for-operand the one in each method's
    own kernel, so results are bit-identical to running them apart);
    the IVF probe and IVF-PQ search run their own label-pruned probe
    scans through the existing audited pipelines (coarse quantizer and
    PQ artifacts are corpus memos, see corpus_memo). Every relation past
    the scans is bounded by construction (<= 2 methods x 8 queries x 8
    rows x #partitions from the sweep; <= 24 rows from each probe), so
    the per-method rank merge, hit counting against the brute top-k, and
    the 1e-4 integer-grid recall all run driver-side and fold back as one
    24-row VALUES LocalRelation — zero data-sized joins or shuffles."""
    import math

    import numpy as np

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    W = np.array([_plane_weights(j) for j in range(1, 9)])
    powers = 2 ** np.arange(8)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qids, Q = _emb_head_vectors(sf_dir, 8)
    qbuckets = (Q @ W.T >= 0).astype(np.int64) @ powers
    qnorm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            bks = (M @ W.T >= 0).astype(np.int64) @ powers
            # same operand order as both methods' own kernels
            cs = (M @ Q.T) / (np.sqrt((M * M).sum(axis=1))[:, None] * qnorm[None, :])
            out = []
            for j, (qid, qb) in enumerate(zip(qids, qbuckets)):
                col = cs[:, j].copy()
                col[ids == qid] = -np.inf
                top = np.argsort(-col)[:8]
                top = top[np.isfinite(col[top])]
                if len(top):
                    out.append(
                        pd.DataFrame(
                            {
                                "method": "brute",
                                "query_id": np.full(len(top), qid, dtype=np.int64),
                                "neighbor_id": ids[top],
                                "cos_sim": col[top],
                            }
                        )
                    )
                col2 = cs[:, j].copy()
                col2[(bks != qb) | (ids == qid)] = -np.inf
                top2 = np.argsort(-col2)[:8]
                top2 = top2[np.isfinite(col2[top2])]
                if len(top2):
                    out.append(
                        pd.DataFrame(
                            {
                                "method": "lsh",
                                "query_id": np.full(len(top2), qid, dtype=np.int64),
                                "neighbor_id": ids[top2],
                                "cos_sim": col2[top2],
                            }
                        )
                    )
            if out:
                yield pd.concat(out)

    # the three result sets come from INDEPENDENT job groups (the fused
    # brute+LSH sweep, the IVF probe, the IVF-PQ search); running them
    # sequentially leaves the cores idle through each job's tail and pays
    # three full scheduling rounds back-to-back. Submit the two probe
    # collects from a small thread pool so their stages back-fill the
    # sweep's stragglers (guide-standard concurrent-jobs pattern; Spark's
    # scheduler interleaves jobs freely, and all three plans are
    # read-only over the same memoized artifacts).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        ivf_fut = pool.submit(
            lambda: _ann_ivf_spark_fn(spark, sf_dir).collect()
        )
        pq_fut = pool.submit(
            lambda: _ivf_pq_search_spark_fn(spark, sf_dir).collect()
        )
        swept = emb.mapInPandas(
            score, "method string, query_id long, neighbor_id long, cos_sim double"
        ).collect()  # bounded: <= 2 x 8 queries x 8 rows x #partitions
        ivf_rows = ivf_fut.result()
        pq_rows = pq_fut.result()

    def merge_topk(rows, k):
        """The _bounded_topk_emit merge: rank by (-score, neighbor_id)
        per query, keep k, preserve rank order in the returned lists."""
        rows = sorted(rows, key=lambda r: (r.query_id, -r.cos_sim, r.neighbor_id))
        out: dict = {}
        last_q, rk = None, 0
        for r in rows:
            rk = rk + 1 if r.query_id == last_q else 1
            last_q = r.query_id
            if rk <= k:
                out.setdefault(r.query_id, []).append(r.neighbor_id)
        return out

    brute5 = merge_topk([r for r in swept if r.method == "brute"], 5)
    lsh5 = merge_topk([r for r in swept if r.method == "lsh"], 5)

    def by_rank(rows):
        res: dict = {}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            res.setdefault(r.query_id, []).append(r.neighbor_id)
        return res

    ivf3 = by_rank(ivf_rows)
    pq3 = by_rank(pq_rows)

    vals = []
    for method, k, res in (
        ("lsh_bucketed", 5, lsh5),
        ("ivf_probe", 3, ivf3),
        ("ivf_pq", 3, pq3),
    ):
        for qid in sorted(brute5):
            truth = set(brute5[qid][:k])
            got = res.get(qid, [])
            nh = sum(1 for x in got if x in truth)
            recall = math.floor(nh * 10000.0 / k + 0.5) / 10000.0
            vals.append(
                f"('{method}', {int(qid)}, CAST({k} AS BIGINT),"
                f" CAST({len(got)} AS BIGINT), CAST({nh} AS BIGINT),"
                f" CAST('{recall!r}' AS DOUBLE))"
            )
    if not vals:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS method, CAST(NULL AS BIGINT) AS"
            " query_id, CAST(NULL AS BIGINT) AS k, CAST(NULL AS BIGINT) AS"
            " n_returned, CAST(NULL AS BIGINT) AS n_hits, CAST(NULL AS"
            " DOUBLE) AS recall_at_k WHERE false"
        )
    return spark.sql(
        "SELECT method, query_id, k, n_returned, n_hits, recall_at_k"
        " FROM (VALUES " + ", ".join(vals)
        + ") AS t(method, query_id, k, n_returned, n_hits, recall_at_k)"
    )


register(
    "ann_recall_eval",
    "ANN recall@k evaluation: recall of the LSH-bucketed, IVF-probe, and "
    "IVF-PQ indexes against the brute-force cosine top-k baseline over "
    "the same 8 queries — per (method, query) hit counts against the "
    "exact top-k and the recall ratio on the 1e-4 integer grid; the "
    "before-you-trust-the-index measurement, fully value-checked (the "
    "oracle composes the four ANN entries' own oracle texts).",
    sql=_ann_recall_duck_sql,
    spark_fn=_ann_recall_spark_fn,
)


_SGD_Q = "1048576.0"  # 2^20 dyadic grid for the weight quantization


def _quality_sgd_duck_sql(d: str) -> str | None:
    """Two unrolled full-batch gradient-descent steps in SQL (fixed
    iteration count = SQL-expressible, the ivf_kmeans/pca discipline).
    Feature scalings are single IEEE divisions (bit-identical across
    engines) and the dot products are written in one fixed left-assoc
    order, so given dyadic-quantized weights the per-doc logits are
    bit-identical; only the gradient SUM order and libm's exp/ln differ,
    and the 2^-20 weight quantization absorbs both."""
    if d == "spark":
        return None
    Q = _SGD_Q
    return f"""
WITH feat AS (
  SELECT doc_id,
    CAST(1.0 AS DOUBLE) AS f0,
    n_chars / 512.0 AS f1,
    len(string_split(text, ' ')) / 128.0 AS f2,
    len(list_distinct(string_split(text, ' '))) / 128.0 AS f3,
    len(list_distinct(string_split(text, ' ')))
      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS f4,
    CASE WHEN len(list_distinct(string_split(text, ' '))) * 3
              > len(string_split(text, ' ')) * 2
         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y
  FROM documents WHERE text IS NOT NULL
),
g1 AS (
  SELECT SUM((0.5 - y) * f0) / COUNT(*) AS g0, SUM((0.5 - y) * f1) / COUNT(*) AS g1,
         SUM((0.5 - y) * f2) / COUNT(*) AS g2, SUM((0.5 - y) * f3) / COUNT(*) AS g3,
         SUM((0.5 - y) * f4) / COUNT(*) AS g4
  FROM feat
),
w1 AS (
  SELECT FLOOR(-g0 * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w0,
         FLOOR(-g1 * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w1,
         FLOOR(-g2 * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w2,
         FLOOR(-g3 * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w3,
         FLOOR(-g4 * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w4
  FROM g1
),
z2 AS (
  SELECT f.*,
    w1.w0 * f.f0 + w1.w1 * f.f1 + w1.w2 * f.f2 + w1.w3 * f.f3 + w1.w4 * f.f4 AS z
  FROM feat f, w1
),
g2 AS (
  SELECT SUM((1.0 / (1.0 + EXP(-z)) - y) * f0) / COUNT(*) AS g0,
         SUM((1.0 / (1.0 + EXP(-z)) - y) * f1) / COUNT(*) AS g1,
         SUM((1.0 / (1.0 + EXP(-z)) - y) * f2) / COUNT(*) AS g2,
         SUM((1.0 / (1.0 + EXP(-z)) - y) * f3) / COUNT(*) AS g3,
         SUM((1.0 / (1.0 + EXP(-z)) - y) * f4) / COUNT(*) AS g4
  FROM z2
),
w2 AS (
  SELECT FLOOR((w1.w0 - g2.g0) * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w0,
         FLOOR((w1.w1 - g2.g1) * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w1,
         FLOOR((w1.w2 - g2.g2) * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w2,
         FLOOR((w1.w3 - g2.g3) * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w3,
         FLOOR((w1.w4 - g2.g4) * {Q} + 0.5) / CAST({Q} AS DOUBLE) AS w4
  FROM w1, g2
),
z3 AS (
  SELECT f.y,
    w2.w0 * f.f0 + w2.w1 * f.f1 + w2.w2 * f.f2 + w2.w3 * f.f3 + w2.w4 * f.f4 AS z
  FROM feat f, w2
),
metrics AS (
  SELECT
    ROUND(SUM(GREATEST(z, 0) + LN(1.0 + EXP(-ABS(z))) - y * z) / COUNT(*), 4)
      AS logloss,
    CAST(SUM(CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_correct,
    CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM z3
)
SELECT f.feature, f.w_step1, f.w_step2, m.logloss, m.n_correct, m.n_docs
FROM (
  SELECT CAST(0 AS BIGINT) AS feature, w1.w0 AS w_step1, w2.w0 AS w_step2 FROM w1, w2
  UNION ALL SELECT 1, w1.w1, w2.w1 FROM w1, w2
  UNION ALL SELECT 2, w1.w2, w2.w2 FROM w1, w2
  UNION ALL SELECT 3, w1.w3, w2.w3 FROM w1, w2
  UNION ALL SELECT 4, w1.w4, w2.w4 FROM w1, w2
) f, metrics m
"""


def _quality_sgd_spark_fn(spark, sf_dir):
    """Quality-classifier training (the corpus-filter model every large
    LLM corpus pipeline trains: logistic regression over cheap text
    statistics, scored corpus-wide to gate documents): two deterministic
    FULL-BATCH gradient-descent steps, entirely in JVM whole-stage-codegen
    aggregations — no Python tier at all.

    Plan shape: each GD step is ONE narrow aggregation over the documents
    scan (5 gradient sums + a count, map-side combinable), the 5-weight
    model lives on the driver between steps (dyadic-quantized to the
    2^-20 grid so both engines run step 2 and the scoring pass on
    bit-identical weights), and the scoring/metrics pass is a third
    aggregation with the weights folded in as exact repr literals. At
    100 TB each step moves 6 doubles per partition; the corpus never
    shuffles. The numerically-safe softplus form GREATEST(z,0) +
    LN(1+EXP(-ABS(z))) keeps the log-loss finite for any logit."""
    import math

    Q = float(_SGD_Q)
    # spread view: all three GD/metric passes stack split/array_distinct
    # CPU on the scan tasks (2 splits on the small-corpus profile at the
    # 10x replica — 2.51 s vs 0.79 s, mode A/B). Partition-order change is
    # inside the established tolerance envelope: the oracle already sums
    # in a different order, and the dyadic 2^-20 weight snap is the
    # cross-engine contract.
    feat = (
        spark.table(spread_documents_src(spark, sf_dir))
        .filter("text IS NOT NULL")
        .selectExpr(
            "CAST(1.0 AS DOUBLE) AS f0",
            "n_chars / CAST(512.0 AS DOUBLE) AS f1",
            "size(split(text, ' ')) / CAST(128.0 AS DOUBLE) AS f2",
            "size(array_distinct(split(text, ' '))) / CAST(128.0 AS DOUBLE) AS f3",
            "size(array_distinct(split(text, ' ')))"
            " / CAST(size(split(text, ' ')) AS DOUBLE) AS f4",
            "CASE WHEN size(array_distinct(split(text, ' '))) * 3"
            " > size(split(text, ' ')) * 2"
            " THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y",
        )
    )

    def dyadic(x: float) -> float:
        return math.floor(x * Q + 0.5) / Q

    def lits(w):
        return [f"CAST('{float(x)!r}' AS DOUBLE)" for x in w]

    # step 1: sigmoid(0) = 0.5 exactly, so the first gradient needs no model
    r1 = feat.selectExpr(
        *[f"SUM((CAST(0.5 AS DOUBLE) - y) * f{j}) / COUNT(*) AS g{j}" for j in range(5)]
    ).first()
    w1 = [dyadic(-r1[f"g{j}"]) for j in range(5)]

    zw1 = " + ".join(f"{l} * f{j}" for j, l in enumerate(lits(w1)))
    sig = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + EXP(-({zw1}))))"
    r2 = feat.selectExpr(
        *[f"SUM(({sig} - y) * f{j}) / COUNT(*) AS g{j}" for j in range(5)]
    ).first()
    w2 = [dyadic(w1[j] - r2[f"g{j}"]) for j in range(5)]

    zw2 = " + ".join(f"{l} * f{j}" for j, l in enumerate(lits(w2)))
    m = feat.selectExpr(f"({zw2}) AS z", "y").selectExpr(
        "ROUND(SUM(GREATEST(z, CAST(0 AS DOUBLE))"
        " + LN(CAST(1.0 AS DOUBLE) + EXP(-ABS(z))) - y * z) / COUNT(*), 4) AS logloss",
        "CAST(SUM(CASE WHEN (z >= CAST(0 AS DOUBLE)) = (y = CAST(1.0 AS DOUBLE))"
        " THEN 1 ELSE 0 END) AS BIGINT) AS n_correct",
        "CAST(COUNT(*) AS BIGINT) AS n_docs",
    ).first()

    vals = ", ".join(
        f"({j}, CAST('{w1[j]!r}' AS DOUBLE), CAST('{w2[j]!r}' AS DOUBLE))"
        for j in range(5)
    )
    return spark.sql(
        "SELECT CAST(feature AS BIGINT) AS feature, w_step1, w_step2,"
        f" CAST('{float(m.logloss)!r}' AS DOUBLE) AS logloss,"
        f" CAST({int(m.n_correct)} AS BIGINT) AS n_correct,"
        f" CAST({int(m.n_docs)} AS BIGINT) AS n_docs"
        f" FROM (VALUES {vals}) AS t(feature, w_step1, w_step2)"
    )


register(
    "quality_classifier_sgd",
    "Quality-classifier training: logistic regression over cheap text "
    "statistics (length, token counts, lexical diversity) by two "
    "deterministic full-batch GD steps — each step ONE map-side-combinable "
    "JVM aggregation (no Python tier), the 5-weight model dyadic-quantized "
    "on the driver between steps, metrics scored with exact literal "
    "weights. The oracle unrolls both steps in SQL; weights match "
    "bit-for-bit, log-loss to 4 decimals, accuracy counts exactly.",
    sql=_quality_sgd_duck_sql,
    spark_fn=_quality_sgd_spark_fn,
)


def _pca_power_duck_sql(d: str) -> str | None:
    """Two unrolled power iterations at the DATA level (w = sum_n
    (x_n . v) x_n), each normalized eigenvector snapped to the 2^-20
    dyadic grid — the fixed-iteration-count unrolling discipline of
    _ivf_kmeans_duck_sql, so the 'iterative' algorithm is fully
    SQL-expressible and both engines run iteration 2 on bit-identical
    vectors."""
    if d == "spark":
        return None
    return f"""
WITH elems AS ({_vec_elems(d)}),
dot1 AS (SELECT vec_id, SUM(x * 0.125) AS d FROM elems GROUP BY vec_id),
w1 AS (
  SELECT e.dim, SUM(d1.d * e.x) AS w
  FROM elems e JOIN dot1 d1 USING (vec_id) GROUP BY e.dim
),
n1 AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w1),
v1 AS (
  SELECT dim, FLOOR(w / nrm * 1048576.0 + 0.5) / CAST(1048576.0 AS DOUBLE) AS v
  FROM w1, n1
),
dot2 AS (
  SELECT e.vec_id, SUM(e.x * v1.v) AS d
  FROM elems e JOIN v1 USING (dim) GROUP BY e.vec_id
),
w2 AS (
  SELECT e.dim, SUM(d2.d * e.x) AS w
  FROM elems e JOIN dot2 d2 USING (vec_id) GROUP BY e.dim
),
n2 AS (SELECT sqrt(SUM(w * w)) AS nrm FROM w2),
v2 AS (
  SELECT dim, FLOOR(w / nrm * 1048576.0 + 0.5) / CAST(1048576.0 AS DOUBLE) AS v
  FROM w2, n2
),
dot3 AS (
  SELECT e.vec_id, SUM(e.x * v2.v) AS d
  FROM elems e JOIN v2 USING (dim) GROUP BY e.vec_id
),
ray AS (SELECT SUM(d * d) AS num FROM dot3),
vnorm AS (SELECT SUM(v * v) AS den FROM v2)
SELECT CAST(v2.dim AS BIGINT) AS dim, v2.v AS component,
  ROUND((SELECT num FROM ray) / (SELECT den FROM vnorm), 4) AS eigenvalue
FROM v2
"""


def _pca_power_spark_fn(spark, sf_dir):
    """Top principal component by power iteration — the dimensionality-
    reduction / whitening primitive of an embedding pipeline. The Spark
    plan exploits that the iteration matrix A^T A is only dim^2: ONE
    mapInPandas sweep emits per-partition 64x64 Gram partials (one GEMM
    per Arrow batch, one bounded 4096-double row per partition), the
    driver sums them and runs BOTH power iterations on the tiny Gram
    matrix — so the corpus is scanned exactly once and never shuffled,
    and adding iterations costs nothing at scale. Each normalized
    eigenvector snaps to the 2^-20 dyadic grid (the ivf_kmeans_train /
    GDOP discipline) so the driver-side Gram iteration and the oracle's
    data-level unrolled iteration agree bit-for-bit despite their
    different summation orders; the Rayleigh-quotient eigenvalue rounds
    to 4 decimals SQL-side to match the oracle's ROUND."""
    import numpy as np

    from wifi_location_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        import pandas as pd

        G = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            g = V.T @ V
            G = g if G is None else G + g
        if G is not None:
            yield pd.DataFrame({"g": [G.reshape(-1).tolist()]})

    parts = emb.mapInPandas(gram, "g array<double>").collect()  # bounded: one row/partition
    G = np.zeros((EMB_DIM, EMB_DIM))
    for r in parts:
        G += np.array(r.g).reshape(EMB_DIM, EMB_DIM)
    v = np.full(EMB_DIM, 0.125)
    for _ in range(2):
        w = G @ v
        v = np.floor(w / np.sqrt((w * w).sum()) * 1048576.0 + 0.5) / 1048576.0
    ray = float((v @ G @ v) / (v @ v))
    vals = ", ".join(
        f"({i + 1}, CAST('{float(v[i])!r}' AS DOUBLE))" for i in range(EMB_DIM)
    )
    return spark.sql(
        "SELECT CAST(dim AS BIGINT) AS dim, component,"
        f" ROUND(CAST('{ray!r}' AS DOUBLE), 4) AS eigenvalue"
        f" FROM (VALUES {vals}) AS t(dim, component)"
    )


register(
    "embedding_pca_power",
    "Top principal component by two deterministic power iterations "
    "(dyadic-quantized normalization each step): the Spark plan folds the "
    "corpus into per-partition 64x64 Gram partials in ONE un-shuffled "
    "sweep and iterates on the driver, so iteration count is free at "
    "scale; the oracle unrolls the same two iterations at the data level "
    "in SQL and must agree bit-for-bit on every eigenvector component "
    "(plus the Rayleigh-quotient eigenvalue to 4 decimals).",
    sql=_pca_power_duck_sql,
    spark_fn=_pca_power_spark_fn,
)


def _label_centroids_sql(d: str) -> str:
    """Spark plan (r5 restructure): the round-4 shape exploded the member
    vectors TWICE and re-joined them against the per-(label,dim) centroid
    relation — PLANS.md counted 6 shuffles + 2 sort-merge joins, ~1.2 s of
    unexplained cost at sf1. Members now stay ARRAYS end-to-end: one
    explode-aggregate builds the |labels|x|dims| centroid grid (tiny), the
    grid folds back into per-label centroid VECTORS via sorted
    collect_list, and the 10-row centroid table broadcast-joins the
    embeddings scan where zip_with computes dot/cosine JVM-side (lambda
    HOFs run interpreted — fine for a 10-way broadcast probe).
    2 shuffles (640-row centroid agg, 10-row final agg) + 1 broadcast
    join, no big-side explode. The DuckDB oracle keeps the independent
    exploded two-join formulation."""
    if d != SPARK:
        return f"""
WITH elems AS ({_vec_elems(d)}),
labeled AS (
  SELECT e.vec_id, em.label, e.dim, e.x
  FROM elems e JOIN embeddings em ON em.vec_id = e.vec_id
),
cent AS (
  SELECT label, dim, AVG(x) AS cx
  FROM labeled GROUP BY label, dim
),
member_dot AS (
  SELECT l.vec_id, l.label,
    SUM(l.x * c.cx) AS dot_c,
    sqrt(SUM(l.x * l.x)) AS norm_v
  FROM labeled l JOIN cent c ON l.label = c.label AND l.dim = c.dim
  GROUP BY l.vec_id, l.label
),
cent_norm AS (SELECT label, sqrt(SUM(cx * cx)) AS norm_c FROM cent GROUP BY label)
SELECT m.label,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  ROUND(AVG(m.dot_c / (m.norm_v * cn.norm_c)), 4) AS mean_cohesion,
  ROUND(MIN(cn.norm_c), 4) AS centroid_norm
FROM member_dot m JOIN cent_norm cn ON cn.label = m.label
GROUP BY m.label
"""
    return """
WITH cent AS (
  SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS cx
  FROM (SELECT label, posexplode(embedding) AS (dim, x) FROM embeddings)
  GROUP BY label, dim
),
centv AS (
  SELECT label,
    transform(array_sort(collect_list(struct(dim, cx))), s -> s.cx) AS cvec
  FROM cent GROUP BY label
),
scored AS (
  SELECT e.label,
    aggregate(zip_with(e.embedding, c.cvec, (a, b) -> CAST(a AS DOUBLE) * b),
              CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dot_c,
    sqrt(aggregate(e.embedding, CAST(0.0 AS DOUBLE),
                   (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS norm_v,
    sqrt(aggregate(c.cvec, CAST(0.0 AS DOUBLE),
                   (acc, v) -> acc + v * v)) AS norm_c
  FROM embeddings e JOIN centv c ON e.label = c.label
)
SELECT label,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  ROUND(AVG(dot_c / (norm_v * norm_c)), 4) AS mean_cohesion,
  ROUND(MIN(norm_c), 4) AS centroid_norm
FROM scored
GROUP BY label
"""


register(
    "embedding_label_centroids",
    "IVF-style coarse structure: per-label centroid vectors + intra-cluster "
    "cohesion (mean member->centroid cosine), the partition-assignment half "
    "of an IVF index; members stay arrays (zip_with dot vs broadcast "
    "centroid vectors), the oracle re-derives via exploded joins.",
    sql=_label_centroids_sql,
)


def _quant_sql(d: str) -> str:
    """Per-vector int8 quantization, array-native in both dialects.

    scale = max|x|/127; q_i = clamp(floor(x_i/scale + 0.5), ±127) — the
    explicit FLOOR(+0.5) form so both engines round identically (the repo's
    standard rounding-parity trick). Errors are computed per element from x
    directly (no materialized q array), summed in index order (both
    dialects left-fold; see dialect.dot), and rounded to 4 dp so last-ulp
    fold noise cannot flip the hash."""
    a = array_double(d, "embedding")
    if d == SPARK:
        amax = f"array_max(transform({a}, x -> abs(x)))"
        q = "greatest(CAST(-127.0 AS DOUBLE), least(CAST(127.0 AS DOUBLE), floor(x / qscale + 0.5)))"
        err = f"transform({a}, x -> abs(x - ({q}) * qscale))"
        sq_err = f"transform({a}, x -> (x - ({q}) * qscale) * (x - ({q}) * qscale))"
        sq = f"transform({a}, x -> x * x)"
        fold = "aggregate({arr}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        maxerr = f"array_max({err})"
        clipped = f"size(filter({a}, x -> abs(floor(x / qscale + 0.5)) > 127.0))"
    else:
        amax = f"list_max(list_transform({a}, x -> abs(x)))"
        q = "greatest(CAST(-127.0 AS DOUBLE), least(CAST(127.0 AS DOUBLE), floor(x / qscale + 0.5)))"
        err = f"list_transform({a}, x -> abs(x - ({q}) * qscale))"
        sq_err = f"list_transform({a}, x -> (x - ({q}) * qscale) * (x - ({q}) * qscale))"
        sq = f"list_transform({a}, x -> x * x)"
        fold = "list_sum({arr})"
        maxerr = f"list_max({err})"
        clipped = f"len(list_filter({a}, x -> abs(floor(x / qscale + 0.5)) > 127.0))"
    # divisor cast to DOUBLE: a bare 10000.0 literal is DECIMAL in Spark and
    # the division would silently emit DecimalType (driver hash-fail class)
    r4 = lambda e: f"FLOOR(({e}) * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE)"  # noqa: E731
    return f"""
WITH scaled AS (
  SELECT vec_id, GREATEST({amax} / 127.0, 1e-30) AS qscale
  FROM embeddings
),
q AS (
  SELECT e.vec_id, s.qscale,
    {maxerr} AS max_abs_err,
    sqrt({fold.format(arr=sq_err)}) AS l2_err,
    sqrt({fold.format(arr=sq)}) AS l2_norm,
    CAST({clipped} AS BIGINT) AS n_clipped
  FROM embeddings e JOIN scaled s ON s.vec_id = e.vec_id
)
SELECT vec_id,
  {r4('qscale * 1000.0')} AS qscale_x1000,
  {r4('max_abs_err * 1000.0')} AS max_abs_err_x1000,
  {r4('l2_err / GREATEST(l2_norm, 1e-30) * 1000.0')} AS rel_l2_err_x1000,
  n_clipped
FROM q
"""


register(
    "embedding_quantize_int8",
    "Per-vector int8 embedding quantization (symmetric, per-vector scale "
    "= max|x|/127) with reconstruction metrics: max abs error, relative L2 "
    "error, clip count. The storage-compression step of an embedding "
    "pipeline (4x smaller vectors for ANN recall tiers); array-native "
    "projection, zero shuffles.",
    sql=_quant_sql,
)


# ---------------------------------------------------------------------------
# Near-dup cluster assignment (connected components over the verified pairs)
# ---------------------------------------------------------------------------


# Single-task union-find cutoff. Memory bound at the cutoff (measured,
# CPython 3.11, 12-char string doc_ids): a 4M-key str→str dict costs
# ~363 MiB RSS (117 MiB dict table + key objects), so the worst case of
# 2M pairs ⇒ ≤4M distinct ids is ~0.4 GiB of union-find state plus the
# ~100 MB pandas concat of the pair batch on ONE task — fine inside a
# multi-GiB executor but not free; raise only with executor memory to
# match. Above the cutoff the distributed alternating-star algorithm
# (operators/graph.connected_components) takes over — O(log n) rounds,
# no single-task state, diameter-independent.
CLUSTERS_UNION_FIND_MAX_PAIRS = 2_000_000


def _dedup_clusters_spark_fn(spark, sf_dir):
    """Connected components over the MinHash-verified near-dup pair graph:
    every clustered document labeled with its component's minimum doc_id
    (the canonical survivor a training pipeline keeps) plus the cluster
    size. Singleton documents (no near-dup pair) are not emitted.

    Two tiers by pair count: below CLUSTERS_UNION_FIND_MAX_PAIRS a
    single-task union-find (the pair graph is O(true near-dups) — a sliver
    of the corpus — and one task beats the join loop's per-round job floor
    by ~10×); above it the distributed alternating large-star/small-star
    algorithm (operators/graph.connected_components, Kiveris et al. SoCC
    2014): O(log n) rounds regardless of graph diameter, so even a
    pathological million-doc chain converges — no round-cap RuntimeError.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    pairs = (
        _minhash_spark_fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_pairs = pairs.count()

    if n_pairs <= CLUSTERS_UNION_FIND_MAX_PAIRS:
        # the pair graph is O(true near-dups) — a sliver of the corpus —
        # and at this size a single-task union-find beats the join loop's
        # per-round job floor by ~10×. Union-by-min keeps the canonical =
        # component-min contract the oracle checks. The distributed loop
        # below remains the >2M-pair path.
        import pandas as pd

        def _union_find(batches):
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            rows = []
            for pdf in batches:
                rows.append(pdf)
            allp = pd.concat(rows) if rows else pd.DataFrame({"doc_a": [], "doc_b": []})
            for a, b in zip(allp["doc_a"], allp["doc_b"]):
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # root at the smaller id → component label is its min
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            # the kernel already holds every component — emit sizes here
            # too, saving the downstream groupBy shuffle + join
            from collections import Counter

            roots = {x: find(x) for x in parent}
            sizes = Counter(roots.values())
            out = pd.DataFrame(
                {
                    "doc_id": list(roots),
                    "canonical_doc_id": list(roots.values()),
                    "cluster_size": [sizes[r] for r in roots.values()],
                }
            )
            yield out

        return pairs.coalesce(1).mapInPandas(
            _union_find,
            "doc_id long, canonical_doc_id long, cluster_size long",
        )

    labels = connected_components(pairs)
    sizes = labels.groupBy("canonical_doc_id").agg(
        F2.count("*").alias("cluster_size")
    )
    return labels.join(sizes, "canonical_doc_id").select(
        "doc_id",
        "canonical_doc_id",
        F2.col("cluster_size").cast("long").alias("cluster_size"),
    )


def _dedup_clusters_duck_sql(d: str) -> str | None:
    """Oracle: transitive closure by recursive CTE (UNION dedup terminates),
    canonical = min reachable vertex — independent of the propagation
    algorithm the Spark side uses."""
    if d == "spark":
        return None
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_minhash_duck_sql(d)}) mp
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
canon AS (
  SELECT u AS doc_id, MIN(v) AS canonical_doc_id FROM reach GROUP BY u
)
SELECT c.doc_id, c.canonical_doc_id, CAST(s.cnt AS BIGINT) AS cluster_size
FROM canon c
  JOIN (SELECT canonical_doc_id, COUNT(*) AS cnt FROM canon GROUP BY canonical_doc_id) s
    USING (canonical_doc_id)
"""


register(
    "dedup_clusters",
    "Near-dup cluster assignment: connected components over the verified "
    "MinHash pair graph — single-task union-find below 2M pairs, "
    "alternating large-star/small-star (O(log n) rounds, diameter-"
    "independent) above; canonical doc = component min, the survivor a "
    "dedup pass keeps. Oracle computes the same components via "
    "recursive-CTE transitive closure.",
    sql=_dedup_clusters_duck_sql,
    spark_fn=_dedup_clusters_spark_fn,
)


# ---------------------------------------------------------------------------
# Round-4 training-mix extensions: RAG chunking, PII scrubbing, mixture
# sampling. Tail-registered (the 50-entry gate window is full); value-
# checked by tests/test_oracle_parity.py like the rest of the tail.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64  # chunk width in whitespace tokens
CHUNK_STRIDE = 48  # start-to-start distance => 16-token overlap


def _rag_chunk_sql(d: str) -> str:
    """Fixed-width overlapping chunk plan (the retrieval/packing prep step
    of a RAG or pretraining pipeline): chunk i of a doc covers tokens
    [1+stride*i, width+stride*i]; the last chunk is short rather than
    dropped. Array-native: tokenize once, slice per chunk — no token
    explode, no shuffle; at 100 TB this is a pure projection followed by
    explode of ~n_tokens/stride rows per doc."""
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    if d == "spark":
        return f"""
WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM {docs_table(d)} WHERE text IS NOT NULL),
ch AS (
  SELECT doc_id,
    explode(transform(
      sequence(0, CAST(FLOOR((size(w) - 1) / CAST({s}.0 AS DOUBLE)) AS BIGINT)),
      i -> struct(i AS chunk_id, slice(w, CAST(1 + {s} * i AS INT), {c}) AS cw)
    )) AS e
  FROM t WHERE size(w) >= 1
)
SELECT doc_id, CAST(e.chunk_id AS BIGINT) AS chunk_id,
  CAST(size(e.cw) AS BIGINT) AS n_tokens,
  md5(array_join(e.cw, ' ')) AS chunk_md5
FROM ch
"""
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text IS NOT NULL),
ch AS (
  SELECT doc_id,
    unnest(generate_series(0, CAST(FLOOR((len(w) - 1) / {s}.0) AS BIGINT))) AS chunk_id,
    w
  FROM t WHERE len(w) >= 1
)
SELECT doc_id, chunk_id,
  CAST(len(list_slice(w, 1 + {s} * chunk_id, {s} * chunk_id + {c})) AS BIGINT) AS n_tokens,
  md5(array_to_string(list_slice(w, 1 + {s} * chunk_id, {s} * chunk_id + {c}), ' ')) AS chunk_md5
FROM ch
"""


register(
    "rag_chunk_plan",
    f"RAG/pretraining chunk plan: {CHUNK_TOKENS}-token chunks at stride "
    f"{CHUNK_STRIDE} (16-token overlap) per document, identified by chunk "
    "md5 — array-native slicing, no token explode, no shuffle.",
    sql=_rag_chunk_sql,
)


# conservative patterns that behave identically under Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences
_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_PHONE = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def _pat(d: str, raw: str) -> str:
    """Regex for embedding in a single-quoted SQL literal: Spark's parser
    processes backslash escapes inside string literals (so the regex
    backslashes must double); DuckDB's standard-SQL literals do not."""
    return raw.replace("\\", "\\\\") if d == "spark" else raw


def _pii_scrub_sql(d: str) -> str:
    """PII scrub pass: plant deterministic emails/phones/IPs into the
    corpus (the synthetic docs carry none), then redact with typed tokens
    and count hits per class. regexp_replace is a zero-shuffle projection;
    the counts + scrubbed-text hash are cross-engine value-checked. The
    patterns are the dual-engine-safe subset (no lookaround) — the
    published scrubbing practice for pretraining corpora."""
    rc = lambda col, pat: regexp_count(d, col, pat)  # noqa: E731
    planted = (
        "concat(text,"
        " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com') ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1-555-', substr(CAST(1000 + doc_id % 900 AS VARCHAR), 1, 3), '-0199') ELSE '' END,"
        " CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.1') ELSE '' END)"
    ) if d != "spark" else (
        "concat(text,"
        " CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com') ELSE '' END,"
        " CASE WHEN doc_id % 5 = 0 THEN concat(' call +1-555-', substr(CAST(1000 + doc_id % 900 AS STRING), 1, 3), '-0199') ELSE '' END,"
        " CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.1') ELSE '' END)"
    )
    return f"""
WITH planted AS (SELECT doc_id, {planted} AS text FROM documents WHERE text IS NOT NULL),
scrubbed AS (
  SELECT doc_id, text,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{_pat(d, _PII_EMAIL)}', '<EMAIL>'),
        '{_pat(d, _PII_PHONE)}', '<PHONE>'),
      '{_pat(d, _PII_IPV4)}', '<IP>') AS clean
  FROM planted
)
SELECT doc_id,
  CAST({rc('text', _pat(d, _PII_EMAIL))} AS BIGINT) AS n_emails,
  CAST({rc('text', _pat(d, _PII_PHONE))} AS BIGINT) AS n_phones,
  CAST({rc('text', _pat(d, _PII_IPV4))} AS BIGINT) AS n_ips,
  md5(clean) AS scrubbed_md5
FROM scrubbed
"""


register(
    "pii_scrub_stats",
    "PII scrubbing: email/phone/IPv4 redaction with per-class hit counts "
    "and a scrubbed-text hash, over deterministically planted PII — "
    "zero-shuffle regexp projection, dual-engine-safe patterns.",
    sql=_pii_scrub_sql,
)


MIX_ALPHA = 0.7  # temperature for source re-weighting (multilingual-LM practice)


def _mixture_sql(d: str) -> str:
    """Temperature-based source mixture plan: w_s = n_s^alpha / sum_t n_t^alpha
    (alpha < 1 upweights small sources — the standard multilingual/domain
    re-balancing rule), plus the per-document epoch count a sampler needs
    (epochs_per_doc = w_s * N_total / n_s). One aggregation + one window
    over |sources| rows — negligible at any corpus size."""
    return f"""
WITH per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
tot AS (
  SELECT source, n_docs, n_chars,
    pow(CAST(n_docs AS DOUBLE), CAST({MIX_ALPHA} AS DOUBLE)) AS na,
    SUM(pow(CAST(n_docs AS DOUBLE), CAST({MIX_ALPHA} AS DOUBLE))) OVER () AS za,
    SUM(n_docs) OVER () AS n_total
  FROM per_source
)
SELECT source, n_docs, n_chars,
  FLOOR(na / za * 1e6 + 0.5) / CAST(1e6 AS DOUBLE) AS mix_weight,
  FLOOR((na / za) * n_total / n_docs * 1e6 + 0.5) / CAST(1e6 AS DOUBLE)
    AS epochs_per_doc
FROM tot
"""


register(
    "mixture_sampling_plan",
    "Training-mix temperature sampling (alpha=0.7): per-source mixture "
    "weight n_s^a / sum(n^a) and epochs-per-doc oversampling factor — the "
    "domain re-balancing step of a pretraining data pipeline.",
    sql=_mixture_sql,
)


# ---------------------------------------------------------------------------
# Round-5 training-mix extensions: Gopher/C4 rule filters, URL/domain
# extraction + per-domain mixture weights. Tail-registered (the 50-entry
# gate window is full); value-checked by tests/test_oracle_parity.py.
# ---------------------------------------------------------------------------


def _ws_tokens(d: str, col: str) -> str:
    """Whitespace-run tokenization (the planted structure adds newlines,
    so a plain split-on-space would keep newline-glued tokens)."""
    if d == "spark":
        return f"split({col}, '\\\\s+')"
    return f"string_split_regex({col}, '\\s+')"


_GOPHER_STOPS = "('the', 'and', 'of', 'to', 'a', 'in', 'with', 'that')"


def _gopher_sql(d: str) -> str:
    """Gopher-style quality rule filters (Rae et al. 2021, appendix A
    heuristics; C4 line rules, Raffel et al. 2020) with per-rule hit
    counts.

    The synthetic corpus is single-line symbol-free text, so deterministic
    structure is planted first (bullet lines, ellipsis line-ends, symbol
    runs keyed on doc_id residues — shared verbatim by both engines) so
    every rule fires on a nontrivial, varying subset. All per-doc stats
    are array-native HOF projections over the tokenized text (no token
    explode, zero shuffles); the final per-rule rollup aggregates once and
    stacks nine one-row selects over that single-row CTE. Repetition is
    measured as the duplicate-bigram fraction (1 - distinct/total), the
    distinct-ratio form of Gopher's duplicate n-gram family.
    """
    nl = "chr(10)"
    plant = (
        "concat(text,"
        f" CASE WHEN doc_id % 4 = 0 THEN concat({nl}, '- first point', {nl}, '- second point') ELSE '' END,"
        " CASE WHEN doc_id % 6 = 0 THEN ' ## ## ##' ELSE '' END,"
        f" CASE WHEN doc_id % 9 = 0 THEN concat({nl}, 'a trailing thought...') ELSE '' END)"
    )
    if d == "spark":
        stats = f"""
  SELECT doc_id,
    CAST(size(w) AS BIGINT) AS n_tok,
    CAST(aggregate(w, 0L, (acc, x) -> acc + length(x)) AS DOUBLE) / size(w) AS mean_wl,
    CAST(size(filter(w, x -> x IN {_GOPHER_STOPS})) AS BIGINT) AS n_stop,
    CAST(size(filter(w, x -> x rlike '[a-zA-Z]')) AS BIGINT) AS n_alpha,
    CAST(regexp_count(text, '#') AS BIGINT) AS n_sym,
    CAST(regexp_count(text, '\\\\.\\\\.\\\\.') AS BIGINT) AS n_ell,
    CAST(size(lines) AS BIGINT) AS n_lines,
    CAST(size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
    CAST(size(filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ell_lines,
    CAST(GREATEST(size(w) - 1, 0) AS BIGINT) AS n_bi,
    CAST(CASE WHEN size(w) >= 2 THEN size(array_distinct(transform(
      sequence(1, size(w) - 1),
      i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))) ELSE 0 END AS BIGINT) AS n_bi_distinct
  FROM (SELECT doc_id, text, {_ws_tokens(d, 'text')} AS w,
               split(text, {nl}) AS lines FROM planted) t"""
    else:
        stats = f"""
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_tok,
    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_wl,
    CAST(len(list_filter(w, x -> x IN {_GOPHER_STOPS})) AS BIGINT) AS n_stop,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_sym,
    CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_ell,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ell_lines,
    CAST(GREATEST(len(w) - 1, 0) AS BIGINT) AS n_bi,
    CAST(CASE WHEN len(w) >= 2 THEN len(list_distinct(
      [w[i] || ' ' || w[i + 1] FOR i IN generate_series(1, len(w) - 1)])) ELSE 0 END AS BIGINT) AS n_bi_distinct
  FROM (SELECT doc_id, text, {_ws_tokens(d, 'text')} AS w,
               string_split(text, {nl}) AS lines FROM planted) t"""
    rules = [
        ("word_count_low", "s.n_tok < 50"),
        ("word_count_high", "s.n_tok > 100000"),
        ("mean_word_len_oob", "s.mean_wl < 3.0 OR s.mean_wl > 10.0"),
        ("symbol_word_ratio", "CAST(s.n_sym + s.n_ell AS DOUBLE) / s.n_tok > 0.1"),
        ("bullet_lines_high", "CAST(s.n_bullet AS DOUBLE) / s.n_lines > 0.9"),
        ("ellipsis_lines_high", "CAST(s.n_ell_lines AS DOUBLE) / s.n_lines > 0.3"),
        ("alpha_word_low", "CAST(s.n_alpha AS DOUBLE) / s.n_tok < 0.8"),
        ("stopword_low", "s.n_stop < 2"),
        ("dup_bigram_high",
         "s.n_bi > 0 AND 1.0 - CAST(s.n_bi_distinct AS DOUBLE) / s.n_bi > 0.2"),
    ]
    fails = ",\n    ".join(
        f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS f_{name}"
        for name, cond in rules
    )
    stacked = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, f_{name} AS n_fail,"
        f" FLOOR(CAST(f_{name} AS DOUBLE) / n_docs * 1e6 + 0.5)"
        f" / CAST(1e6 AS DOUBLE) AS frac_fail FROM f"
        for name, _ in rules
    )
    return f"""
WITH planted AS (SELECT doc_id, {plant} AS text FROM documents WHERE text IS NOT NULL),
s AS ({stats}),
f AS (
  SELECT
    {fails},
    CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM s
)
{stacked}
"""


register(
    "gopher_rule_filters",
    "Gopher/C4-style quality rule filters with per-rule hit counts: word-"
    "count bounds, mean word length, symbol-to-word ratio, bullet/ellipsis "
    "line fractions, alphabetic-word fraction, stop-word minimum, duplicate-"
    "bigram fraction — array-native HOF projections, no token explode, one "
    "final single-row rollup (pretraining-data pipeline extension).",
    sql=_gopher_sql,
)


_BM25_TERMS = ("spark", "join", "window", "vector")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def _bm25_duck_sql(d: str) -> str | None:
    """The DuckDB oracle of bm25_topk (the Spark side is _bm25_spark_fn):
    BM25 top-k retrieval (Robertson & Zaragoza 2009, the Lucene
    practical-scoring variant: idf = ln(1 + (N - df + 0.5)/(df + 0.5)))
    for a fixed conjunctive query over the documents corpus — the
    relevance-ranking primitive a training-data pipeline uses for
    quality-by-retrieval and targeted corpus slicing.

    Per-doc term frequencies are array-native HOF counts over ONE
    tokenization; the corpus statistics (N, avgdl, one df per term) fold
    into a SINGLE one-row aggregate joined back over the scan.
    Determinism: scores round on the 1e-6 grid AFTER a cutoff ordered by
    (raw score, doc_id); ln/div are single IEEE ops over
    integer-exact tf/df/dl inputs, the same discipline as
    mixture_sampling_plan's pow() weights."""
    if d == "spark":
        return None
    k1, b, k = _BM25_K1, _BM25_B, _BM25_TOPK
    tfs = ",\n    ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    dfs = ",\n    ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    # per-term BM25 contribution; norm is let-bound by the surrounding
    # projection so it evaluates once per doc in both engines
    contrib = " + ".join(
        f"ln(CAST(1 AS DOUBLE) + (CAST(n_docs - df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{t} AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))"
        f" / (CAST(tf_{t} AS DOUBLE) + CAST({k1!r} AS DOUBLE) * norm)"
        for t in _BM25_TERMS
    )
    tf_total = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
WITH tf AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS dl,
    {tfs}
  FROM (SELECT doc_id, {_ws_tokens(d, 'text')} AS w FROM {docs_table(d)}
        WHERE text IS NOT NULL) t
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
    {dfs}
  FROM tf
),
scored AS (
  SELECT doc_id, dl, {tf_total} AS tf_total, {contrib} AS score_raw
  FROM (
    SELECT tf.*, stats.*,
      CAST(1 AS DOUBLE) - CAST({_BM25_B!r} AS DOUBLE)
        + CAST({_BM25_B!r} AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl AS norm
    FROM tf CROSS JOIN stats
  ) s
)
SELECT doc_id, dl AS doc_len, tf_total,
  FLOOR(score_raw * 1e6 + 0.5) / CAST(1e6 AS DOUBLE) AS bm25
FROM scored
ORDER BY score_raw DESC, doc_id
LIMIT {k}
"""


def _bm25_spark_fn(spark, sf_dir):
    """Spark form of the declared BM25 (``_bm25_duck_sql``, the oracle)
    that tokenizes the corpus ONCE.

    The declared text's ``tf`` CTE is consumed twice (the stats aggregate
    and the scored scan); Spark re-inlines WITH references, so that text
    pays the split + per-term filter pass over every document TWICE, while
    DuckDB shares CTE results. Here the narrow
    tf relation (doc_id, dl, one BIGINT per query term — no text) is
    computed once and persisted as a corpus memo, the
    one-row corpus stats COLLECT (bounded by construction: 2 + |terms|
    integers), and idf/norm/score evaluate IN-PLAN over integer literals
    with the identical expression text — same IEEE op sequence, so the
    1e-6 grid rounds identically and the oracle match is exact. At 100 TB
    the persisted tf is the posting-statistics relation a retrieval
    pipeline materializes anyway (tens of bytes/doc), and the only
    exchange is the TakeOrdered(k) cutoff. The declared text run on Spark
    lost at every measured corpus, its extra job round included (noop
    write, 5 alternating pairs, 4-core host: sf0.1 1.02 s vs 0.77 s, the
    10x replica 2.25 vs 1.36 s, a 60x replica 7.34 vs 4.22 s), so it is
    not a Spark branch."""
    from pyspark.sql import functions as F2

    k1, b, k = _BM25_K1, _BM25_B, _BM25_TOPK

    def build_tf():
        tfs = ", ".join(
            f"CAST(size(filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
            for t in _BM25_TERMS
        )
        src = spread_documents_src(spark, sf_dir)
        return spark.sql(
            f"SELECT doc_id, CAST(size(w) AS BIGINT) AS dl, {tfs}"
            f" FROM (SELECT doc_id, {_ws_tokens('spark', 'text')} AS w"
            f" FROM {src} WHERE text IS NOT NULL) t"
        ).persist()

    # a corpus memo: its re-arm after the bench's per-attempt clearCache()
    # is what keeps the stats job and the scoring job from each
    # re-tokenizing the corpus — the exact double pass this twin removes
    tf = corpus_memo.memo(spark, sf_dir, "bm25_tf", build_tf)
    s = tf.agg(
        F2.count("*").alias("n_docs"),
        F2.sum("dl").alias("sum_dl"),
        *[
            F2.sum(F2.expr(f"CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END")).alias(
                f"df_{t}"
            )
            for t in _BM25_TERMS
        ],
    ).collect()[0]
    n_docs, sum_dl = int(s["n_docs"]), int(s["sum_dl"])
    # avgdl reproduced as the same division of the same integers the SQL's
    # stats CTE performs (constant-folds to the identical double)
    avgdl = f"(CAST({sum_dl} AS DOUBLE) / CAST({n_docs} AS BIGINT))"
    norm = (
        f"CAST(1 AS DOUBLE) - CAST({b!r} AS DOUBLE)"
        f" + CAST({b!r} AS DOUBLE) * CAST(dl AS DOUBLE) / {avgdl}"
    )
    contrib = " + ".join(
        f"ln(CAST(1 AS DOUBLE) + (CAST({n_docs - int(s['df_' + t])} AS DOUBLE)"
        f" + 0.5) / (CAST({int(s['df_' + t])} AS DOUBLE) + 0.5))"
        f" * (CAST(tf_{t} AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))"
        f" / (CAST(tf_{t} AS DOUBLE) + CAST({k1!r} AS DOUBLE) * norm)"
        for t in _BM25_TERMS
    )
    tf_total = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    return (
        tf.selectExpr(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            f"{norm} AS norm",
        )
        .selectExpr("doc_id", "dl", f"{tf_total} AS tf_total", f"{contrib} AS score_raw")
        .orderBy(F2.desc("score_raw"), "doc_id")
        .limit(k)
        .selectExpr(
            "doc_id",
            "dl AS doc_len",
            "tf_total",
            "FLOOR(score_raw * 1e6 + 0.5) / CAST(1e6 AS DOUBLE) AS bm25",
        )
    )


register(
    "bm25_topk",
    "BM25 top-k retrieval for a fixed term set over the documents corpus "
    "(Lucene-variant idf): array-native per-doc term frequencies (no "
    "token explode), ONE one-row corpus-stats aggregate broadcast back "
    "over the scan, TakeOrdered cutoff — the relevance-ranking primitive "
    "for quality-by-retrieval corpus slicing.",
    sql=_bm25_duck_sql,
    spark_fn=_bm25_spark_fn,
)


def _url_mixture_sql(d: str) -> str:
    """URL/domain extraction + per-domain temperature mixture weights.

    Plants deterministic URLs into the corpus (residue-keyed hosts over
    coprime moduli → ~185 registrable domains; some docs carry two URLs,
    some none — shared verbatim by both engines), extracts them back with
    a group-free regex, parses host and registrable domain, then applies
    the same alpha-temperature re-weighting as mixture_sampling_plan per
    domain. Shape: one zero-shuffle regexp projection + explode, one
    groupBy over ~|domains| keys, one window over |domains| rows — the
    per-domain mixture step of a pretraining pipeline (composes with
    mixture_sampling_plan's per-source weights).
    """
    s = "STRING" if d == "spark" else "VARCHAR"
    plant = (
        "concat(text,"
        f" CASE WHEN doc_id % 13 <> 0 THEN concat(' see https://sub', CAST(doc_id % 7 AS {s}),"
        f" '.site', CAST(doc_id % 37 AS {s}), '.',"
        " CASE CAST(doc_id % 5 AS INTEGER) WHEN 0 THEN 'com' WHEN 1 THEN 'org'"
        " WHEN 2 THEN 'net' WHEN 3 THEN 'io' ELSE 'edu' END,"
        f" '/p/', CAST(doc_id AS {s}), ' here') ELSE '' END,"
        f" CASE WHEN doc_id % 11 = 0 THEN concat(' and https://cdn.example', CAST(doc_id % 3 AS {s}), '.net/x') ELSE '' END)"
    )
    url_pat = "https?://[a-z0-9.-]+(?:/[a-z0-9._/-]*)*"
    if d == "spark":
        urls = (
            f"SELECT doc_id, explode(regexp_extract_all(text, '{url_pat}', 0)) AS url"
            " FROM planted"
        )
        dom = (
            "concat(element_at(split(host, '\\\\.'), -2), '.',"
            " element_at(split(host, '\\\\.'), -1))"
        )
    else:
        urls = (
            f"SELECT doc_id, unnest(regexp_extract_all(text, '{url_pat}')) AS url"
            " FROM planted"
        )
        dom = (
            "string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]"
        )
    return f"""
WITH planted AS (SELECT doc_id, {plant} AS text FROM documents WHERE text IS NOT NULL),
urls AS ({urls}),
hosts AS (
  -- dotless hosts (http://localhost/...) would index split(host,'.') at -2
  -- past the front: ANSI Spark raises where DuckDB's list indexing NULLs,
  -- so a user-supplied corpus could crash one engine and silently diverge
  -- on the other; registrable-domain extraction needs >= 2 labels anyway
  SELECT doc_id, host FROM (
    SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS host FROM urls
  ) h WHERE host LIKE '%.%'
),
doms AS (SELECT doc_id, host, {dom} AS domain FROM hosts),
per_dom AS (
  SELECT domain,
    CAST(COUNT(*) AS BIGINT) AS n_urls,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM doms GROUP BY domain
),
tot AS (
  SELECT domain, n_urls, n_docs,
    pow(CAST(n_docs AS DOUBLE), CAST({MIX_ALPHA} AS DOUBLE)) AS na,
    SUM(pow(CAST(n_docs AS DOUBLE), CAST({MIX_ALPHA} AS DOUBLE))) OVER () AS za
  FROM per_dom
)
SELECT domain, n_urls, n_docs,
  FLOOR(na / za * 1e6 + 0.5) / CAST(1e6 AS DOUBLE) AS mix_weight
FROM tot
"""


register(
    "url_domain_mixture",
    "URL/domain extraction + per-domain temperature mixture weights "
    "(alpha=0.7): regex URL extraction over deterministically planted "
    "links, host/registrable-domain parsing, per-domain doc counts and "
    "mixture weights — the domain-level re-balancing step of a "
    "pretraining pipeline, composing with mixture_sampling_plan.",
    sql=_url_mixture_sql,
)


_UNIGRAM_VOCAB = 64  # top-V corpus vocabulary; OOV tokens take the floor
# probability 0.5/total (Laplace-style). V bounds the broadcast side at any
# corpus size — the standard truncated-vocab LM-score proxy.


def _unigram_logprob_sql(d: str) -> str:
    """Unigram LM quality score: per-doc mean log-probability under the
    corpus' own truncated unigram distribution — the cheap proxy for the
    'LM perplexity' filter of pretraining pipelines (CCNet / Brown et al.
    GPT-3 appendix A use a real LM; the unigram form is the same shape:
    score = mean token logprob, flag the improbable tail).

    Scale shape: vocab is an ORDER BY count LIMIT V aggregate (V=64 —
    broadcast-sized at ANY corpus scale); the token explode keeps doc_id so
    scoring is one broadcast join + one per-doc re-aggregation shuffle.
    The corpus total rides along as a scalar subquery (one-row broadcast).
    mean_logprob rounds at 1e-4 (float-sum order differs across engines;
    the ~1e-9 accumulation disparity sits far below the rounding grain);
    the oov flag compares exact integers, so it can never flip between
    engines.
    """
    if d == "spark":
        toks = "SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents"
    else:
        toks = "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents"
    return f"""
WITH toks AS ({toks}),
counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts),
vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT {_UNIGRAM_VOCAB}),
scored AS (
  SELECT t.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_tok,
    CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
    AVG(CASE WHEN v.tok IS NOT NULL THEN LN(CAST(v.c AS DOUBLE) / (SELECT n FROM tot))
             ELSE LN(0.5 / (SELECT n FROM tot)) END) AS mean_lp
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
  GROUP BY t.doc_id
)
SELECT doc_id, n_tok, n_oov,
  ROUND(mean_lp, 4) AS mean_logprob,
  CAST(n_oov * 2 > n_tok AS BOOLEAN) AS oov_heavy
FROM scored
"""


def _unigram_logprob_spark_fn(spark, sf_dir):
    """Spark side of the unigram LM score: two jobs, zero scoring join.

    The round-6 form (persist full token counts, broadcast-join the token
    stream against the vocab, re-aggregate per doc) ran 5.5-8.7x of the
    oracle at sf1 and GREW with data — 4+ scheduled jobs and two full
    explode+aggregate passes. The profiled floor here is ~0.14 s per
    scheduled job and ~0.2 s per explode pass (single-row-group test
    corpus -> 1 scan task; an Arrow kernel pass floors even higher,
    ~0.5 s, so the doc_fingerprint treatment LOSES on this operator).
    Minimum-job shape instead:

    - Job 1 (vocab + total, ONE collect, ONE scan): explode -> GROUP BY
      ROLLUP(tok) — the rollup's grand-total row (tok NULL; a safe
      sentinel because exploded tokens are never NULL) rides the same
      map-side-combinable aggregation as the per-token counts, so the
      r7 form's second SUM(size(split(text))) scan is gone — ->
      TakeOrdered(V+1, c DESC, tok). The total row always survives the
      limit (its count is the sum of all the others). Collects V+1=65
      rows to the driver: bounded by construction at any corpus scale,
      the same justified class as the ANN contract-vector collects.
    - Job 2 (score): the 64 (tok, lp) pairs fold into a LITERAL map (a
      constant-folded hash probe per token — no broadcast exchange, no
      join), and the per-doc score is array-native: transform(split(text))
      -> map probe -> size/filter/aggregate HOFs in ONE shuffle-free
      projection. The r7 explode -> GROUP BY doc_id re-aggregation
      measured 0.26 s at sf1 against 0.12 s for the HOF form — the explode
      multiplies the row stream ~170x just to group it straight back.
      try_element_at, not element_at: ANSI mode raises on missing map
      keys, and OOV probes are the expected path.

    Semantics pinned to the dual-dialect oracle: split-on-space matches
    (empty text -> one '' token; NULL text -> no exploded rows, and
    size(split(NULL)) is NULL under ANSI so it drops from SUM too), and
    AVG over the token stream is reproduced exactly (same per-token
    terms, same grouping)."""
    import math

    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    rows = spark.sql(
        f"""
        SELECT tok, CAST(c AS BIGINT) AS c FROM (
          SELECT tok, COUNT(*) AS c
          FROM (SELECT explode(split(text, ' ')) AS tok FROM documents)
          GROUP BY ROLLUP(tok)
        ) ORDER BY c DESC, tok LIMIT {_UNIGRAM_VOCAB + 1}
        """
    ).collect()
    vt = [r for r in rows if r.tok is not None]
    n = float(next((r.c for r in rows if r.tok is None and r.c is not None), 0.0))
    if not vt or n <= 0:
        # degenerate corpus (no non-NULL text): zero scored rows
        return spark.sql(
            "SELECT doc_id, CAST(NULL AS BIGINT) AS n_tok, "
            "CAST(NULL AS BIGINT) AS n_oov, CAST(NULL AS DOUBLE) AS "
            "mean_logprob, CAST(NULL AS BOOLEAN) AS oov_heavy "
            "FROM documents WHERE text IS NOT NULL AND 1 = 0"
        )
    ents = []
    for r in vt:
        ents += [F2.lit(r.tok), F2.lit(math.log(r.c / n))]
    vmap = F2.create_map(*ents)
    oov_lp = F2.lit(math.log(0.5 / n))

    docs = spark.sql(
        "SELECT doc_id, split(text, ' ') AS w FROM documents WHERE text IS NOT NULL"
    )
    lps = F2.transform(F2.col("w"), lambda t: F2.try_element_at(vmap, t))
    scored = docs.select(
        "doc_id",
        F2.size("w").cast("long").alias("n_tok"),
        F2.size(F2.filter(lps, lambda x: x.isNull())).cast("long").alias("n_oov"),
        (
            F2.aggregate(
                lps,
                F2.lit(0.0).cast("double"),
                lambda a, x: a + F2.coalesce(x, oov_lp),
            )
            / F2.size("w")
        ).alias("mean_lp"),
    )
    return scored.select(
        "doc_id",
        "n_tok",
        "n_oov",
        F2.round("mean_lp", 4).alias("mean_logprob"),
        (F2.col("n_oov") * 2 > F2.col("n_tok")).alias("oov_heavy"),
    )


register(
    "unigram_logprob_score",
    "Unigram LM quality score: per-doc mean token log-probability under "
    "the corpus' truncated top-64 unigram distribution with an OOV floor "
    "(0.5/total) — the perplexity-filter proxy of pretraining pipelines; "
    "vocab is one ROLLUP TakeOrdered aggregation (counts + grand total in "
    "one scan, output bounded at V=64 at any corpus scale) folded into a "
    "literal map, scoring is one shuffle-free array-native projection "
    "(transform/filter/aggregate HOFs over the map probe) — no scoring "
    "join, no explode, no broadcast exchange, two scheduled jobs total.",
    sql=lambda d: None if d == "spark" else _unigram_logprob_sql(d),
    spark_fn=_unigram_logprob_spark_fn,
)


_BIGRAM_VOCAB = 64  # closed bigram vocabulary (top-V unigrams); OOV -> floor


def _bigram_logprob_duck_sql(d: str) -> str | None:
    """Bigram LM quality score unrolled in SQL: vocabulary = the top-64
    unigrams (count DESC, token ASC — the unigram query's tie-break), the
    bigram table restricted to V x V adjacent pairs with add-0.5 smoothing
    over the closed 64-word vocabulary, and a corpus-level floor for any
    pair touching an OOV word. A pair of two in-vocab words is always in
    the table (counts come from the same corpus), so `b IS NULL` is
    exactly the OOV condition on both engines."""
    if d == "spark":
        return None
    V = _BIGRAM_VOCAB
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE len(t) >= 2
),
ucounts AS (
  SELECT unnest(t) AS tok FROM toks
),
vocab AS (
  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM ucounts GROUP BY tok)
  ORDER BY c DESC, tok LIMIT {V}
),
big AS (
  SELECT p.w1, p.w2, CAST(COUNT(*) AS BIGINT) AS b
  FROM pairs p
    JOIN vocab v1 ON v1.tok = p.w1
    JOIN vocab v2 ON v2.tok = p.w2
  GROUP BY p.w1, p.w2
),
ctx AS (SELECT w1, CAST(SUM(b) AS BIGINT) AS c FROM big GROUP BY w1),
btot AS (SELECT CAST(SUM(b) AS DOUBLE) AS bt FROM big),
scored AS (
  SELECT p.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(CASE WHEN g.b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_pairs,
    AVG(CASE WHEN g.b IS NOT NULL
             THEN LN((g.b + 0.5) / (x.c + {V / 2!r}))
             ELSE LN(0.5 / ((SELECT bt FROM btot) + {V / 2!r})) END) AS mean_lp
  FROM pairs p
    LEFT JOIN big g ON g.w1 = p.w1 AND g.w2 = p.w2
    LEFT JOIN ctx x ON x.w1 = p.w1
  GROUP BY p.doc_id
)
SELECT doc_id, n_pairs, n_oov_pairs,
  ROUND(mean_lp, 4) AS mean_logprob,
  CAST(n_oov_pairs * 2 > n_pairs AS BOOLEAN) AS oov_heavy
FROM scored
"""


def _bigram_logprob_spark_fn(spark, sf_dir):
    """Bigram LM quality score — one LM order above unigram_logprob_score
    (the KenLM-perplexity-filter proxy of CCNet-style pipelines). Three
    scheduled jobs, all bounded collects, ZERO scoring shuffle (the
    unigram query's literal-probe shape, lifted one LM order — the r9
    verdict's fix for the join-form scoring pass that paid an
    inline-explode pair relation + broadcast join + per-doc
    re-aggregation, 2.1-2.5x of the oracle at sf1):

    - Job 1 (vocab): top-64 unigrams, one explode aggregation with
      TakeOrdered — identical definition and tie-break as the unigram
      query. Folds into a literal tok -> index map (64 entries).
    - Job 2 (bigram table): adjacent pairs keyed as i*64+j via the index
      map inside one zip_with/filter projection (no inline explode of
      struct pairs, no isin over 64 strings — two map probes per pair),
      then a map-side-combinable count into <= V^2 = 4096 groups — a
      code-book-sized collect at ANY corpus scale. Context totals and
      the corpus floor derive driver-side; the per-bigram log-probs fold
      into ONE ArrayType(double) literal of 4096 slots indexed by the
      same i*64+j key (a single Literal node — not 8192 expression args,
      so analysis/codegen stay flat).
    - Job 3 (score): shuffle-free projection — try_element_at(index map)
      per token, zip_with over the shifted index arrays probes the lp
      array literal, and n_pairs/n_oov/mean fold as size/filter/aggregate
      HOFs. A pair probes non-null iff BOTH words are in-vocab: the
      counts come from this same corpus, so every in-vocab adjacent pair
      has a table entry — `lp IS NULL` is exactly the oracle's OOV
      condition. At 100 TB nothing moves but the scan.

    Python's math.log and the oracle's LN may differ in the last ulp on
    identical inputs; the per-doc mean rounds at 1e-4, far above the
    ~1e-15 disparity (the unigram query's documented discipline)."""
    import math

    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    V = _BIGRAM_VOCAB
    # spread view: the vocab explode, the pair-keying projection and the
    # scoring projection all stack split/transform CPU on the scan tasks —
    # the small-corpus profile's coarse scan serialized them (2.95 s vs
    # 0.89 s at the 10x replica, mode A/B).
    src = spread_documents_src(spark, sf_dir)
    vocab = [
        r.tok
        for r in spark.sql(
            """
            SELECT tok, COUNT(*) AS c
            FROM (SELECT explode(split(text, ' ')) AS tok
                  FROM {src} WHERE text IS NOT NULL)
            GROUP BY tok ORDER BY c DESC, tok LIMIT {V}
            """.format(V=V, src=src)
        ).collect()
    ]
    uents = []
    for i, tok in enumerate(vocab):
        uents += [F2.lit(tok), F2.lit(i)]
    umap = F2.create_map(*uents)

    docs = spark.sql(
        "SELECT doc_id, split(text, ' ') AS t"
        f" FROM {src} WHERE text IS NOT NULL"
    ).filter("size(t) >= 2")
    # Materialize the token-index array as its OWN projection: every
    # downstream expression (two slices, filter, aggregate) consumes the
    # column, so the 64-entry map probe runs ONCE per token instead of
    # once per consuming expression (the unmaterialized form re-evaluated
    # the transform 4x and measured 3.6 s at sf1 vs 1.4 s materialized).
    idxed = docs.select(
        "doc_id",
        (F2.size("t") - 1).alias("np"),
        F2.transform(F2.col("t"), lambda w: F2.try_element_at(umap, w)).alias(
            "idx"
        ),
    )
    # zip_with's lambda nulls out any pair touching an OOV word (a null
    # index propagates through the arithmetic), so the filter keeps
    # exactly the in-vocab pairs.
    pair_keys = lambda val: F2.zip_with(  # noqa: E731
        F2.slice(F2.col("idx"), 1, F2.col("np")),
        F2.slice(F2.col("idx"), 2, F2.col("np")),
        val,
    )
    keyed = idxed.select(
        F2.explode(
            F2.filter(pair_keys(lambda a, b: a * V + b), lambda k: k.isNotNull())
        ).alias("k")
    )
    brows = keyed.groupBy("k").count().collect()
    # bounded: <= V^2 = 4096 rows by construction
    ctx: dict = {}
    bt = 0
    for r in brows:
        ctx[r.k // V] = ctx.get(r.k // V, 0) + r["count"]
        bt += r["count"]
    floor_lp = math.log(0.5 / (bt + V / 2))
    lptab: list = [None] * (V * V)
    for r in brows:
        lptab[r.k] = math.log((r["count"] + 0.5) / (ctx[r.k // V] + V / 2))
    # ONE literal node: F2.lit(list) would expand to array(lit, lit, ...)
    # — 4096 expression nodes re-analyzed/re-codegen'd per run, measured
    # ~2 s of per-attempt plan overhead at sf1. from_json on a foldable
    # string constant-folds to a single ArrayType Literal instead
    # (repr(float) round-trips exactly through JSON, so the doubles are
    # bit-identical to the driver-side math.log results).
    import json as _json

    lplit = F2.from_json(F2.lit(_json.dumps(lptab)), "array<double>")

    # Same materialize-once discipline for the per-pair lp array.
    lped = idxed.select(
        "doc_id",
        "np",
        pair_keys(lambda a, b: F2.try_element_at(lplit, a * V + b + 1)).alias(
            "lps"
        ),
    )
    scored = lped.select(
        "doc_id",
        F2.col("np").cast("long").alias("n_pairs"),
        F2.size(F2.filter("lps", lambda x: x.isNull())).cast("long").alias(
            "n_oov_pairs"
        ),
        (
            F2.aggregate(
                "lps",
                F2.lit(0.0).cast("double"),
                lambda a, x: a + F2.coalesce(x, F2.lit(floor_lp)),
            )
            / F2.col("np")
        ).alias("mean_lp"),
    )
    return scored.selectExpr(
        "doc_id", "n_pairs", "n_oov_pairs",
        "ROUND(mean_lp, 4) AS mean_logprob",
        "CAST(n_oov_pairs * 2 > n_pairs AS BOOLEAN) AS oov_heavy",
    )


register(
    "bigram_logprob_score",
    "Bigram LM quality score: per-doc mean log P(w2|w1) under the corpus' "
    "own V x V bigram table (top-64 unigram vocabulary, add-0.5 smoothing, "
    "corpus floor for OOV pairs) — one LM order above the unigram "
    "perplexity-filter proxy. The bigram table is bounded at 4096 rows at "
    "any corpus scale (pairs keyed i*64+j through a literal index map), "
    "folds to a single ArrayType literal probed inside the zip_with "
    "projection, and scoring is shuffle-free array-native HOFs — no "
    "scoring join, no per-doc re-aggregation (the unigram query's shape).",
    sql=_bigram_logprob_duck_sql,
    spark_fn=_bigram_logprob_spark_fn,
)


def _collocations_duck_sql(d: str) -> str | None:
    """PMI over the top-20 adjacent pairs. Selection is INTEGER-
    deterministic (count DESC, w1, w2 — never by the floating PMI, which
    could reorder across engines at ulp distance); PMI is a computed
    column on the selected rows, dyadic-floored at 1e-4 like the
    logprob family (LN-vs-math.log ulp disparity is ~1e-15 against a
    1e-4 grid — the unigram query's documented discipline)."""
    if d == "spark":
        return None
    return """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE len(t) >= 2
),
pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w1, w2),
nb AS (SELECT CAST(SUM(c) AS DOUBLE) AS v FROM pc),
uc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
),
n AS (SELECT CAST(SUM(c) AS DOUBLE) AS v FROM uc),
top AS (SELECT w1, w2, c FROM pc ORDER BY c DESC, w1, w2 LIMIT 20)
SELECT top.w1, top.w2, top.c AS pair_count,
  CAST(FLOOR(LN((top.c / (SELECT v FROM nb))
               / ((u1.c / (SELECT v FROM n)) * (u2.c / (SELECT v FROM n))))
             * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE) AS DOUBLE) AS pmi
FROM top
  JOIN uc u1 ON u1.tok = top.w1
  JOIN uc u2 ON u2.tok = top.w2
"""


@contextmanager
def _vocab_sized_reducers(spark, sf_dir):
    """Run the body at 1 reducer per 4 MB of documents (floor 1),
    restoring the session's shuffle partitions afterwards; yields the
    documents bytes.

    For the queries whose every post-scan relation is vocabulary-sized
    (collocations, CMS, BPE training): the session's static sizing targets
    the corpus, so their downstream stages would be mostly empty task
    launches, while map-side partial aggregation keeps the scan stage
    parallel at any reducer count."""
    doc_sz = table_probe(sf_dir, "documents").bytes
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(1, doc_sz >> 22)))
    try:
        yield doc_sz
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _collocations_fn(spark, sf_dir):
    """Collocation mining (pointwise mutual information over adjacent
    token pairs) — the phrase-vocabulary pass a tokenizer/data pipeline
    runs to decide what deserves to be one token.

    ONE corpus-sized explode (r11 optimization, second iteration — the
    first single-pass rework keyed pairs AND unigrams as exploded strings
    and an interleaved same-session A/B at the 10x replica measured it at
    2.35 s vs 1.22 s for the r10 three-pass CTE form: doubling the explode
    volume and hash-aggregating concat-allocated pair STRINGS cost more
    than the extra corpus passes saved): only the PAIR relation explodes
    (struct keys, no concat allocation). Unigram counts are DERIVED, not
    re-counted — every token occurrence is either the left side of an
    adjacent pair or the last token of its document, so

        count(w) = SUM(pair_count WHERE w1 = w) + #docs whose last token is w

    exactly (integer identity, no tolerance). The last-token relation
    costs ONE extra marker row per document inside the same explode
    (w2 IS NULL tags it), so the whole query touches the corpus once.
    A same-session decomposition at the replica
    measured the RELATIONAL downstream (union-regroup + joins + global
    aggs over the ~1000-row count relations) at ~0.7 s of pure tiny-stage
    scheduling — as much as the corpus pass itself — so the downstream is
    ONE tagged-union collect instead (see inline comment): a single
    scheduled job returns top-20 + pair-left sums + last-token counts,
    the totals derive driver-side in exact integer arithmetic, and the
    ≤20 result rows fold back as a VALUES literal whose PMI computes
    IN-PLAN with the identical FLOOR(LN(...)) expression at the family's
    1e-4 dyadic floor (LN ulp disparity ~1e-15 against the grid — the
    unigram query's documented discipline). The collected relations are
    vocabulary-sized (the tfidf df-table / bigram vocab precedent), never
    corpus-sized. The pair counts persist as a corpus memo (the bench's
    clearCache drops the data every attempt, so each attempt recomputes
    from parquet) because the collect's three branches would otherwise
    re-inline the explode."""
    from pyspark.sql import functions as F2

    def build_counts():
        # ONE corpus pass for BOTH relations: each doc's adjacent pairs AND
        # its single last-token marker row (w2 IS NULL) come out of the same
        # inline() — the previous separate doc-level last-token aggregation
        # re-scanned and re-tokenized every document. A single-token doc
        # contributes no pairs (empty zip_with slices) and exactly its
        # marker, so both relations are row-identical to the two-pass form.
        src = spread_documents_src(spark, sf_dir)
        return spark.sql(
            f"""
SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM (
  SELECT inline(concat(
    zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
             (a, b) -> struct(a AS w1, b AS w2)),
    array(struct(element_at(t, -1) AS w1, CAST(NULL AS STRING) AS w2))))
  FROM (SELECT split(text, ' ') AS t FROM {src} WHERE text IS NOT NULL)
) GROUP BY w1, w2
"""
        ).persist()

    # Every post-scan relation here is count-table-sized (pairs + vocab ≈
    # 1000 rows at the replica), but the session's static shuffle sizing
    # targets the corpus — 20-32 reducers per exchange — so the downstream
    # stages are ~95% empty task launches (measured: the relational
    # downstream cost ~0.7 s against a warm cache, all scheduling).
    with _vocab_sized_reducers(spark, sf_dir) as doc_sz:
        # the memo's re-arm after a session-wide clearCache() keeps the
        # collect's union branches from each re-running the corpus explode
        pc = corpus_memo.memo(spark, sf_dir, "collocation_counts", build_counts)
        pairs = pc.where("w2 IS NOT NULL")
        lastn = pc.where("w2 IS NULL").select(
            F2.col("w1").alias("lw"), F2.col("c").alias("lc")
        )
        # Driver-collect sizing is REGIME-GATED (r12, VERDICT r11 #2): the
        # r11 single tagged-union collect pulls the per-token pair-left
        # sums and last-token counts for the WHOLE vocabulary — bounded at
        # small corpora (vocabulary ≤ corpus), but an unbounded driver
        # collect on open-vocab text at 100 TB. Above the crossover the
        # query switches to a two-job form whose collects are bounded by
        # the RESULT size, not the vocabulary: job 1 is a distributed
        # TakeOrdered of the deterministic top-20 pairs (count DESC, w1,
        # w2); job 2 is a two-branch tagged union, each branch grouping by
        # `w IF w IN tokset ELSE NULL` (≤40 literal tokens from the
        # top-20) so the NULL group carries the complement and the branch
        # emits ≤41 rows: tag 1 = pair-left sums, tag 2 = last-token
        # counts. nb (total pairs) = Σ tag-1 c including the NULL group —
        # exactly the old 'sum of all pair-left sums'; n = nb + Σ tag-2 —
        # the identical integers, so the PMI VALUES literal is unchanged.
        # The collect is ≤ 20 + 41 + 41 rows REGARDLESS of vocabulary.
        # Below the crossover the extra scheduled job + extra branch
        # stages are pure per-job floor (measured at the 10x replica:
        # 1.61 s two-job vs 0.82 s single-collect, all scheduling — the
        # corpus pass is identical) while the vocabulary is trivially
        # driver-sized, so the r11 one-job collect stays. The bounded
        # branch is value-pinned to the one-job branch by
        # tests/test_oracle_parity.py::test_collocations_bounded_matches_small
        # and oracle-gated on the at-scale corpus (where it is the live path).
        bounded = doc_sz >= _COLL_BOUNDED_MIN_BYTES
        if bounded:
            t20 = pairs.orderBy(F2.desc("c"), "w1", "w2").limit(20)
            _tap_plan("ngram_collocations: top-20 TakeOrdered collect", t20)
            top = sorted(
                (-r.c, r.w1, r.w2) for r in t20.collect()
            )  # driver-side re-sort only restates the collected order
            tokset = sorted({w for _, w1, w2 in top for w in (w1, w2)})
            rows = []
            if tokset:
                w1k = F2.when(F2.col("w1").isin(tokset), F2.col("w1"))
                lwk = F2.when(F2.col("lw").isin(tokset), F2.col("lw"))
                stats = (
                    pairs.groupBy(w1k.alias("w"))
                    .agg(F2.sum("c").cast("long").alias("c"))
                    .select(F2.lit(1).alias("tag"), "w", "c")
                    .unionAll(
                        lastn.groupBy(lwk.alias("w"))
                        .agg(F2.sum("lc").cast("long").alias("c"))
                        .select(F2.lit(2).alias("tag"), "w", "c")
                    )
                )
                _tap_plan(
                    "ngram_collocations: bounded tagged-union stats collect",
                    stats,
                )
                rows = stats.collect()
        else:
            top20 = (
                pairs.orderBy(F2.desc("c"), "w1", "w2")
                .limit(20)
                .select(F2.lit(0).alias("tag"), "w1", "w2", "c")
            )
            un = top20.unionAll(
                pairs.groupBy("w1").agg(F2.sum("c").cast("long").alias("c"))
                .select(
                    F2.lit(1).alias("tag"), "w1", F2.lit(None).cast("string"), "c"
                )
            ).unionAll(
                lastn.select(
                    F2.lit(2).alias("tag"), "lw", F2.lit(None).cast("string"), "lc"
                )
            )
            _tap_plan(
                "ngram_collocations: small-corpus tagged-union collect", un
            )
            rows = un.collect()
    u: dict = {}
    nb = 0
    if bounded:
        lt = 0
        for r in rows:
            if r.tag == 1:
                nb += r.c
            else:
                lt += r.c
            if r.w is not None:
                u[r.w] = u.get(r.w, 0) + r.c
        n = nb + lt
    else:
        for r in rows:
            if r.tag == 1:
                u[r.w1] = u.get(r.w1, 0) + r.c
                nb += r.c
            elif r.tag == 2:
                u[r.w1] = u.get(r.w1, 0) + r.c
        n = nb + sum(r.c for r in rows if r.tag == 2)
        top = sorted(
            ((-r.c, r.w1, r.w2) for r in rows if r.tag == 0)
        )  # driver-side re-sort only restates the collected order

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace(chr(39), chr(39) * 2) + "'"

    vals = ", ".join(
        f"({q(w1)}, {q(w2)}, CAST({-negc} AS BIGINT), CAST({u[w1]} AS BIGINT),"
        f" CAST({u[w2]} AS BIGINT))"
        for negc, w1, w2 in top
    )
    if not vals:  # corpus with no adjacent pairs (all-NULL / single-token)
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS w1, CAST(NULL AS STRING) AS w2,"
            " CAST(NULL AS BIGINT) AS pair_count,"
            " CAST(NULL AS DOUBLE) AS pmi WHERE 1 = 0"
        )
    return spark.sql(
        f"""
SELECT w1, w2, c AS pair_count,
  CAST(FLOOR(LN((c / CAST({nb} AS DOUBLE)) /
              ((c1 / CAST({n} AS DOUBLE)) * (c2 / CAST({n} AS DOUBLE))))
       * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE) AS DOUBLE) AS pmi
FROM (VALUES {vals}) AS t(w1, w2, c, c1, c2)
"""
    )


# documents bytes (table_probe) above which ngram_collocations switches its driver
# collects to the vocabulary-independent bounded form (top-20 TakeOrdered +
# ≤41-row-per-branch grouped stats). Below it the vocabulary is trivially
# driver-sized and the one-job collect saves a scheduled round + branch
# stages (measured 0.82 s vs 1.61 s at the 10x replica — pure job floor).
_COLL_BOUNDED_MIN_BYTES = 32 << 20


register(
    "ngram_collocations",
    "Collocation mining: PMI over the corpus's top-20 adjacent token "
    "pairs — the phrase-vocabulary measurement behind tokenizer/phrase "
    "decisions. Pair selection is integer-deterministic (count DESC, "
    "lexicographic tie-break; never ranked by the floating PMI); one "
    "declarative plan — pair counts to a top-20 cutoff, totals from a "
    "shuffle-free global aggregation, one equi-join of the unpivoted "
    "top words against the unigram relation — computes PMI in-plan at "
    "the family's 1e-4 dyadic floor; the oracle computes the identical "
    "formula in shared CTEs.",
    sql=_collocations_duck_sql,
    spark_fn=_collocations_fn,
)


def _tfidf_duck_sql(d: str) -> str | None:
    """Per-doc top-3 tf-idf terms. Ranking follows the tpch_q3
    dyadic-quantize-before-rank discipline: the float score quantizes to
    a BIGINT 1e-4 grid (LN ulp disparity ~1e-15 against the grid) and
    the rank key is (quantized score DESC, term) — (doc, term) is unique
    so the ordering is total and cross-engine deterministic."""
    if d == "spark":
        return None
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
tfr AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, tok
),
dfr AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY tok
),
nd AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, f.df,
    CAST(FLOOR(t.tf * LN(((SELECT n FROM nd) + 1.0) / (f.df + 1.0))
               * 10000.0 + 0.5) AS BIGINT) AS sq
  FROM tfr t JOIN dfr f ON f.tok = t.tok
),
ranked AS (
  SELECT doc_id, tok, tf, df, sq,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sq DESC, tok) AS rk
  FROM scored
)
SELECT doc_id, tok AS term, tf, df,
  CAST(sq AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS tfidf,
  CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
"""


def _tfidf_spark_fn(spark, sf_dir):
    """Per-doc top-k tf-idf — the canonical corpus-exploration operator
    (VERDICT r10 #8). Two scans, zero data-sized shuffles:

    - Pass 1: vocabulary document frequencies from the distinct in-doc
      token sets (array_distinct scan-side, map-side-combined groupBy —
      the exchange ships per-partition distinct tokens only), with the
      doc total N riding the SAME aggregation as the df of a chr(1)
      sentinel prepended to every doc's distinct set (no separate count
      job). The df table collects driver-side — vocabulary-sized, the
      bpe_apply/bigram precedent (a tokenizer's vocab is the artifact a
      served pipeline ships, ≪ corpus at 100 TB) — and the 1e-4-grid
      idf weights fold into the kernel closure.
    - Pass 2: one Arrow-batched mapInPandas over (doc_id, text) emits
      each doc's top-3 directly — per-doc Counter tf, score =
      FLOOR(tf * LN((N+1)/(df+1)) * 1e4 + 0.5) on the BIGINT grid
      BEFORE ranking (the tpch_q3 dyadic-quantize-before-rank
      discipline), (-score, term) sort with the term tie-break
      (UTF-8 codepoint order == both engines' binary collation). No
      corpus-wide rank window, no (doc, term) shuffle, no collect_list
      re-aggregation — the r11-initial relational form paid three
      data-sized string shuffles for 2.2 s at sf1; this runs the same
      math scan-side.

    The earlier relational form survives as the DuckDB oracle text."""
    import math

    from pyspark.sql import functions as F2

    # spread view: both the df aggregation's array_distinct/split and the
    # per-doc Counter kernel ride the documents scan tasks — the coarse
    # small-corpus scan serialized them on 2 of 32 cores at the 10x replica
    # (1.46 s vs 0.80 s, mode A/B).
    docs = spark.table(spread_documents_src(spark, sf_dir)).where(
        "text IS NOT NULL"
    )
    # chr(1) sentinel: prepended to every doc's DISTINCT token set, its
    # "document frequency" is exactly the non-null doc count N. chr(1)
    # cannot appear as a split(' ') token unless the corpus embeds \x01
    # inside a word — and if it ever did, the df lookup below would only
    # make the sentinel's count wrong, which the value gate would catch.
    dfr = (
        docs.select(
            F2.explode(
                F2.concat(
                    F2.array(F2.lit("\x01")),
                    F2.array_distinct(F2.split("text", " ")),
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F2.count("*").cast("long").alias("df"))
    )
    df_rows = dfr.collect()  # vocabulary-sized (see docstring)
    df_map = {r.tok: r.df for r in df_rows}
    nd = float(df_map.pop("\x01", 0))
    idf = {t: math.log((nd + 1.0) / (d + 1.0)) for t, d in df_map.items()}

    def topk(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "term": [], "tf": [], "df": [],
                "tfidf": [], "rk": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = Counter(text.split(" "))
                scored = sorted(
                    (
                        (-math.floor(tf * idf[t] * 10000.0 + 0.5), t, tf)
                        for t, tf in counts.items()
                    ),
                )[:3]
                for rk, (nsq, t, tf) in enumerate(scored, 1):
                    out["doc_id"].append(doc_id)
                    out["term"].append(t)
                    out["tf"].append(tf)
                    out["df"].append(df_map[t])
                    out["tfidf"].append(-nsq / 10000.0)
                    out["rk"].append(rk)
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        topk,
        "doc_id long, term string, tf long, df long, tfidf double, rk long",
    )


register(
    "tfidf_topk_terms",
    "Per-document top-3 tf-idf terms: smoothed idf LN((N+1)/(df+1)) over "
    "the corpus vocabulary, score dyadically quantized to a 1e-4 BIGINT "
    "grid BEFORE ranking (the tpch_q3 discipline) with a term tie-break; "
    "the Spark plan keeps per-doc ranking array-native (collect + "
    "sort_array comparator + slice, no corpus-wide rank window) and "
    "derives df map-side-combinably from distinct in-doc token sets.",
    sql=_tfidf_duck_sql,
    spark_fn=_tfidf_spark_fn,
)


def _strategy_agreement_spark_fn(spark, sf_dir):
    """Blocking-strategy agreement: the tuning measurement a production
    dedup pipeline runs before trusting a probabilistic blocker. Both
    strategies verify the SAME exact Jaccard ≥ 0.8, so every difference is
    pure blocking recall: rare-shingle blocking misses pairs whose shared
    shingles are all hot (df > cap); MinHash-LSH banding misses pairs whose
    12-hash signatures never collide in any band (P[miss] = (1-j^3)^4,
    ~1.7% at j = 0.8). One row: pair counts, overlap, and each side's
    recall against the union of verified pairs. Runs both existing
    pipelines and joins their (tiny) verified-pair outputs — cost is the
    two pipelines themselves, the agreement math is free."""
    from pyspark.sql import functions as F2

    # ONE signature-table build shared by both pipelines (each would
    # otherwise kernel-build and persist its own copy of the same relation)
    arrs = minhash_signature_table(spark, sf_dir)
    six = lambda c: (F2.floor(c * 1e6 + F2.lit(0.5)) / F2.lit(1e6)).cast("double")
    # the two pipelines share the signature table and the candidate
    # machinery (``parts``); their verified pairs meet in one full-outer
    # join. A fused form (union both candidate sets with provenance flags,
    # verify once) tied with this one where it could run — the 10x replica,
    # noop write, 5 alternating pairs, 4-core host: 6.78 s vs 7.21 s, each
    # median inside the other's quartiles — and needs the array-verify
    # regime, which neither sf0.1 (1.27 M candidates) nor a 60x replica
    # (343 k) is in, so it was deleted
    parts = _ngram_jaccard_parts(spark, sf_dir, arrs)
    lsh = _minhash_spark_fn(spark, sf_dir, arrs=arrs).select("doc_a", "doc_b")
    blocked = _ngram_jaccard_spark_fn(spark, sf_dir, arrs=arrs, parts=parts).select(
        "doc_a", "doc_b"
    )
    verified = (
        lsh.withColumn("in_lsh", F2.lit(1))
        .join(blocked.withColumn("in_blk", F2.lit(1)), ["doc_a", "doc_b"], "full")
        .select(
            F2.coalesce("in_lsh", F2.lit(0)).alias("in_lsh"),
            F2.coalesce("in_blk", F2.lit(0)).alias("in_blk"),
        )
    )
    return verified.agg(
        F2.sum("in_lsh").cast("long").alias("n_lsh"),
        F2.sum("in_blk").cast("long").alias("n_blocked"),
        F2.sum(F2.col("in_lsh") * F2.col("in_blk")).cast("long").alias("n_both"),
        F2.count("*").cast("long").alias("n_union"),
    ).select(
        "n_lsh",
        "n_blocked",
        "n_both",
        "n_union",
        six(F2.col("n_lsh").cast("double") / F2.col("n_union")).alias("lsh_recall"),
        six(F2.col("n_blocked").cast("double") / F2.col("n_union")).alias(
            "blocked_recall"
        ),
    )


def _strategy_agreement_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    return f"""
WITH lsh AS (SELECT doc_a, doc_b FROM ({_minhash_duck_sql(d)})),
blk AS (SELECT doc_a, doc_b FROM ({_ngram_jaccard_duck_sql(d)})),
j AS (
  SELECT COALESCE(l.doc_a, b.doc_a) AS doc_a,
    l.doc_a IS NOT NULL AS in_lsh, b.doc_a IS NOT NULL AS in_blk
  FROM lsh l FULL JOIN blk b ON l.doc_a = b.doc_a AND l.doc_b = b.doc_b
)
SELECT
  CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
  CAST(SUM(CASE WHEN in_blk THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
  CAST(SUM(CASE WHEN in_lsh AND in_blk THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
  CAST(COUNT(*) AS BIGINT) AS n_union,
  FLOOR(CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
    / CAST(1e6 AS DOUBLE) AS lsh_recall,
  FLOOR(CAST(SUM(CASE WHEN in_blk THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
    / CAST(1e6 AS DOUBLE) AS blocked_recall
FROM j
"""


SUBSTR_WIN = 24  # token window for exact-substring dedup; stride 1


def _substring_spans_sql(d: str) -> str:
    """Exact-substring duplicate spans (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): every stride-1
    {SUBSTR_WIN}-token window is hashed; windows whose hash appears in 2+
    documents mark verbatim cross-document repetition; overlapping hits in
    a document merge into maximal spans via interval gaps-and-islands
    (a new span starts where a window's position exceeds the running MAX
    of previous span ends — plain consecutive-position islands would
    double-count partially-overlapping windows).

    Window-hash definition (token-digest rolling form): each token is
    md5-hashed ONCE to a 16-hex-char digest; a window's hash is the md5 of
    the concatenation of its {SUBSTR_WIN} token digests (a fixed
    16*{SUBSTR_WIN}-char string), truncated to 60 bits. Collision-
    equivalent to hashing the joined window text, but the per-window work
    is O(1) token hashing amortized + one fixed-width md5 instead of an
    O(W) string build — the kernel shares token digests across all windows
    they appear in. Both dialects use this same definition, so values
    match bit-for-bit.

    Scale shape: the window relation is built array-native per document
    (one slice+md5 per window, no token explode) and carries ~(tokens)
    rows of (60-bit hash, doc_id, pos) into one GROUP BY for the shared
    set; the island pass is one per-doc window sort. Output integers are
    exact, so cross-engine hashing is unconditional."""
    if d == "spark":
        return None  # the Spark side is the Arrow-kernel spark_fn below
    W = SUBSTR_WIN
    wins = f"""
  SELECT doc_id, unnest(generate_series(1, n - {W - 1})) AS p,
    unnest([{hex_to_bigint(d, f"substr(md5(list_aggregate(dg[i:i+{W - 1}], 'string_agg', '')), 1, 15)")}
            FOR i IN generate_series(1, n - {W - 1})]) AS h
  FROM (
    SELECT doc_id, list_transform(w, t -> substr(md5(t), 1, 16)) AS dg, len(w) AS n
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
    WHERE len(w) >= {W}
  ) u"""
    return f"""
WITH wins AS ({wins}),
shared AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (
  SELECT doc_id, p, p + {W - 1} AS e FROM wins WHERE h IN (SELECT h FROM shared)
),
flagged AS (
  SELECT doc_id, p, e,
    CASE WHEN p > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
  FROM m
),
islands AS (
  SELECT doc_id, e, new_span,
    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p
      ROWS UNBOUNDED PRECEDING) AS span_id,
    p
  FROM flagged
),
spans AS (
  SELECT doc_id, span_id, MIN(p) AS s, MAX(e) AS e,
    CAST(COUNT(*) AS BIGINT) AS n_wins
  FROM islands GROUP BY doc_id, span_id
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_spans,
  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
  CAST(SUM(n_wins) AS BIGINT) AS n_dup_windows
FROM spans GROUP BY doc_id
"""


def _substring_spans_spark_fn(spark, sf_dir):
    """Spark side with the window relation persisted ONCE (the dual-dialect
    SQL references the wins CTE twice — shared-set build and match — and
    Spark re-inlines WITH references, doubling the slice+md5 window build;
    the known re-expansion cost this module documents). Windows come from
    the same Arrow pattern as the shingle kernels, in the token-digest
    rolling form: each DISTINCT token is md5'd once (memoized across the
    batch — corpora repeat tokens heavily), the per-doc digest string is
    one contiguous buffer, and each stride-1 window hash is md5 over a
    fixed-width slice of that buffer — no O(W) per-window string join."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    src = spread_documents_src(spark, sf_dir, full_fanout=True)
    docs = spark.sql(f"SELECT doc_id, text FROM {src}")
    W = SUBSTR_WIN

    import hashlib

    import numpy as np
    import pandas as pd

    def to_wins(batches):
        md5 = hashlib.md5
        # per-task token-digest memo; bounded so a pathological vocabulary
        # can't grow executor memory (past the cap we just recompute)
        memo: dict = {}
        CAP = 2_000_000
        WB = 16 * W  # window = W token digests x 16 hex chars each
        for pdf in batches:
            ids_all = pdf["doc_id"].to_numpy(np.int64)
            if len(ids_all) == 0:
                continue
            ids, pos, digests = [], [], []
            for i, txt in enumerate(pdf["text"]):
                if not isinstance(txt, str):
                    continue
                w = txt.split(" ")
                nw = len(w) - W + 1
                if nw < 1:
                    continue
                parts = []
                for t in w:
                    hh = memo.get(t)
                    if hh is None:
                        hh = md5(t.encode()).hexdigest()[:16].encode()
                        if len(memo) < CAP:
                            memo[t] = hh
                    parts.append(hh)
                buf = b"".join(parts)
                digests.append(
                    b"".join(
                        md5(buf[16 * p : 16 * p + WB]).digest()[:8]
                        for p in range(nw)
                    )
                )
                ids.append(np.full(nw, ids_all[i], dtype=np.int64))
                pos.append(np.arange(1, nw + 1, dtype=np.int64))
            if not ids:
                continue
            u64 = np.frombuffer(b"".join(digests), dtype=">u8")
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "p": np.concatenate(pos),
                    "h": (u64 >> np.uint64(4)).astype(np.int64),
                }
            )

    wins = docs.mapInPandas(to_wins, "doc_id long, p long, h long").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # "2+ distinct docs" as min(doc) != max(doc): same set as
    # COUNT(DISTINCT doc_id) >= 2 but with cheap map-side-combinable
    # partial aggregates instead of a per-group distinct structure
    shared = (
        wins.groupBy("h")
        .agg(F2.min("doc_id").alias("d0"), F2.max("doc_id").alias("d1"))
        .filter(F2.col("d0") != F2.col("d1"))
        .select("h")
    )
    m = wins.join(shared, "h").select("doc_id", "p")
    # Islands math on the per-doc SORTED position array instead of the
    # oracle's two window passes + two re-aggregations: every interval has
    # the same width W, so with positions sorted ascending the running MAX
    # of previous ends is simply prev_p + W - 1 — a window starts a new
    # span iff its gap to the previous position is >= W. Fold the whole
    # per-doc summary out of the gap array:
    #   n_spans    = 1 + |{gaps >= W}|
    #   dup_tokens = sum(within-span gaps) + n_spans * W
    #     (each span covers p_last - p_first + W tokens, and p_last -
    #      p_first telescopes into its < W gaps)
    # One groupBy over the (already duplicate-only) matched windows — no
    # doc-ordered sort-exchange, no span_id relation. The aggregate HOFs
    # are interpreted, but they run on matched positions only.
    ps = F2.sort_array(F2.collect_list("p"))
    perdoc = m.groupBy("doc_id").agg(ps.alias("ps"))
    gaps = F2.zip_with(
        F2.slice(F2.col("ps"), 2, F2.greatest(F2.size("ps") - 1, F2.lit(0))),
        F2.slice(F2.col("ps"), 1, F2.greatest(F2.size("ps") - 1, F2.lit(0))),
        lambda a, b: a - b,
    )
    n_spans = F2.lit(1).cast("long") + F2.aggregate(
        gaps,
        F2.lit(0).cast("long"),
        lambda acc, g: acc + (g >= W).cast("long"),
    )
    within = F2.aggregate(
        gaps,
        F2.lit(0).cast("long"),
        lambda acc, g: acc + F2.when(g < W, g).otherwise(F2.lit(0).cast("long")),
    )
    return perdoc.select(
        "doc_id",
        n_spans.alias("n_spans"),
        (within + n_spans * W).cast("long").alias("dup_tokens"),
        F2.size("ps").cast("long").alias("n_dup_windows"),
    )


register(
    "substring_dup_spans",
    f"Exact-substring duplicate spans (Lee et al. 2022): stride-1 "
    f"{SUBSTR_WIN}-token window hashes shared by 2+ docs, overlapping hits "
    "merged into maximal spans by interval gaps-and-islands — per-doc span "
    "count, duplicated-token total, matched-window count. Finds verbatim "
    "repeated passages that segment-aligned paragraph_dedup misses; "
    "window relation built once by an Arrow kernel (no token explode).",
    sql=_substring_spans_sql,
    spark_fn=_substring_spans_spark_fn,
)


register(
    "dedup_strategy_agreement",
    "Blocking-strategy agreement: MinHash-LSH banding vs rare-shingle "
    "blocking over the SAME exact-Jaccard >= 0.8 verification — pair "
    "counts, overlap, and per-strategy recall against the union. The "
    "tuning measurement that tells a pipeline whether its probabilistic "
    "blocker's miss rate ((1-j^b)^r for LSH) is acceptable before a "
    "corpus-wide run.",
    sql=_strategy_agreement_duck_sql,
    spark_fn=_strategy_agreement_spark_fn,
)


# ---------------------------------------------------------------------------
# Round-5 training-mix extensions: paragraph-level dedup, canonical pick
# ---------------------------------------------------------------------------

PARA_TOKENS = 20  # fixed segment width (the corpus has no newline marks)


def _paragraph_dedup_sql(d: str) -> str:
    """CCNet-style paragraph-level exact dedup: segment each document into
    fixed 20-token windows (the synthetic corpus carries no natural
    paragraph marks — real deployments split on newlines instead), hash
    each segment, report every segment shared by 2+ (doc, position) sites
    with its keep-first canonical. Map-side partial aggregation collapses
    the shuffle to one row per DISTINCT segment hash — the same
    scale shape as dedup_exact, one level below it."""
    s = PARA_TOKENS
    if d == "spark":
        segs = f"""
  SELECT doc_id, CAST(e.seg_idx AS BIGINT) AS seg_idx,
    md5(array_join(e.sw, ' ')) AS seg_md5
  FROM (
    SELECT doc_id,
      explode(transform(
        sequence(0, CAST(FLOOR((size(w) - 1) / CAST({s}.0 AS DOUBLE)) AS BIGINT)),
        i -> struct(i AS seg_idx, slice(w, CAST(1 + {s} * i AS INT), {s}) AS sw)
      )) AS e
    FROM (SELECT doc_id, split(text, ' ') AS w FROM {docs_table(d)}) t
    WHERE size(w) >= 1
  ) x"""
    else:
        segs = f"""
  SELECT doc_id, seg_idx,
    md5(array_to_string(list_slice(w, 1 + {s} * seg_idx, {s} * seg_idx + {s}), ' ')) AS seg_md5
  FROM (
    SELECT doc_id,
      unnest(generate_series(0, CAST(FLOOR((len(w) - 1) / {s}.0) AS BIGINT))) AS seg_idx,
      w
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
    WHERE len(w) >= 1
  ) x"""
    return f"""
WITH segs AS ({segs})
SELECT seg_md5,
  CAST(COUNT(*) AS BIGINT) AS n_sites,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
  CAST(MIN(seg_idx * 1000000 + doc_id) % 1000000 AS BIGINT) AS canonical_rank_key
FROM segs
GROUP BY seg_md5
HAVING COUNT(*) >= 2
"""


register(
    "paragraph_dedup",
    f"Paragraph-level exact dedup (CCNet-style): fixed {PARA_TOKENS}-token "
    "segments per document, md5 per segment, segments shared by 2+ sites "
    "reported with keep-first canonical — removes boilerplate passages "
    "that document-level exact dedup misses; shuffle carries one row per "
    "distinct segment hash.",
    sql=_paragraph_dedup_sql,
)


def _canonical_pick_duck_sql(d: str) -> str | None:
    """Oracle: recursive-CTE transitive closure over the MinHash pair graph
    (independent of the Spark side's union-find / alternating-star tiers)
    joined to the quality composite, argmax by (rounded quality DESC,
    doc_id ASC)."""
    if d == "spark":
        return None
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_minhash_duck_sql(d)}) mp
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) s
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
canon AS (
  SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
),
q AS (
  SELECT doc_id,
    FLOOR(LEAST(1.0,
        0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
      + 0.2 * LEAST(CAST(n_stop AS DOUBLE) * 5.0 / n_tokens, 1.0)) * 10000.0 + 0.5)
      / CAST(10000.0 AS DOUBLE) AS quality
  FROM ({_tqs_stats(d)}) s
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality,
    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.doc_id) AS rn,
    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
  FROM canon c JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id, quality AS keep_quality,
  CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


def _canonical_pick_spark_fn(spark, sf_dir):
    """Cluster-representative selection: the survivor a dedup pass KEEPS is
    the highest-quality member, not the min-id one — compose the real
    cluster labels (union-find / alternating-star tiers) with the quality
    composite and take the per-cluster argmax (quality DESC, doc_id ASC).
    Cluster labels and per-doc quality are both tiny relative to the
    corpus, so the join and the per-cluster window cost O(clustered docs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    labels = _dedup_clusters_spark_fn(spark, sf_dir).select(
        F2.col("canonical_doc_id").alias("cluster_id"), "doc_id"
    )
    q = spark.sql(
        f"""
SELECT doc_id,
  FLOOR(LEAST(1.0,
      0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
    + 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
    + 0.2 * LEAST(CAST(n_stop AS DOUBLE) * 5.0 / n_tokens, 1.0)) * 10000.0 + 0.5)
    / CAST(10000.0 AS DOUBLE) AS quality
FROM ({_tqs_stats(SPARK)}) s
"""
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F2.col("quality").desc(), F2.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        labels.join(q, "doc_id")
        .withColumn("rn", F2.row_number().over(w))
        .withColumn("n_members", F2.count("*").over(wc).cast("long"))
        .filter(F2.col("rn") == 1)
        .select(
            "cluster_id",
            F2.col("doc_id").alias("keep_doc_id"),
            F2.col("quality").alias("keep_quality"),
            "n_members",
        )
    )


register(
    "dedup_canonical_pick",
    "Cluster-representative selection: per near-dup cluster keep the "
    "highest-quality member (rounded composite quality DESC, doc_id ASC "
    "tie-break — replica permutations preserve token stats, so ties are "
    "real) — the keep-decision step between clustering and corpus "
    "rewrite. Oracle recomputes clusters via recursive-CTE closure.",
    sql=_canonical_pick_duck_sql,
    spark_fn=_canonical_pick_spark_fn,
)


def _cms_sql(d: str) -> str:
    """Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005) over
    the corpus token stream: depth 4 x width 256 counters, row hashes from
    the engine's shared 60-bit md5 form, point query = MIN over the four
    probed counters. Completes the mergeable-sketch trio (kmv = bottom-k
    distinct, hll = register-max distinct, cms = counter-sum frequency):
    counter SUM is map-side combinable all the way down, so at 100 TB a
    1000-executor rollup merges 4x256 longs per partition instead of
    shuffling token occurrences — the same property argued for HLL.

    Plan: one token explode -> 4-row literal depth fan-out (the allowed
    bounded-literal pattern, O(4n) probe rows) -> GROUP BY (row, col) into
    1024 counters (partial aggregation collapses each partition to <=1024
    rows before the one tiny shuffle). The probe side re-derives the
    exact top-20 true counts (count-groupBy + TakeOrdered) and joins its
    4 probed counters back against the 1024-row sketch relation —
    broadcast-sized by construction. All arithmetic is exact integers, so
    the estimates value-check bit-for-bit across engines, including the
    CMS guarantee estimate >= truth asserted as a column."""
    h = hex_to_bigint(
        d, "substr(md5(concat('cms', CAST(t.j AS STRING), '|', word)), 1, 15)"
    )
    words = (
        f"SELECT word FROM (SELECT unnest({split_words(d, 'text')}) AS word FROM documents) u"
        if d == "duck"
        else f"SELECT explode({split_words(d, 'text')}) AS word FROM documents"
    )
    return f"""
WITH w AS (
  SELECT word FROM ({words}) raw WHERE word != ''
),
sketch AS (
  SELECT t.j, {h} % 256 AS col, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM w CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(j)
  GROUP BY t.j, {h} % 256
),
truth AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM w GROUP BY word
  ORDER BY COUNT(*) DESC, word
  LIMIT 20
),
probed AS (
  SELECT truth.word, truth.true_count, s.cnt
  FROM truth CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(j)
  JOIN sketch s ON s.j = t.j
    AND s.col = {h} % 256
)
SELECT word, true_count,
  MIN(cnt) AS cms_estimate,
  MIN(cnt) - true_count AS overestimate,
  CAST(MIN(cnt) >= true_count AS BOOLEAN) AS bound_holds
FROM probed
GROUP BY word, true_count
"""


def _cms_spark_fn(spark, sf_dir):
    """Spark plan for the CMS demo: the token-count relation is computed
    ONCE and persisted, then the sketch counters and the top-20 truth come
    back in ONE tagged-union collect and the probe (point query = MIN over
    the four probed counters) runs driver-side in exact integer arithmetic.

    The r11 pre-optimization shape derived sketch, truth, AND the probe
    join as a relational downstream of the persisted counts; a warm-cache
    decomposition at the 10x replica measured that downstream at ~0.5 s —
    as much as the corpus pass — all of it stage scheduling over relations
    bounded at 1024 rows (the ngram_collocations finding, same fix). Both
    collected branches are bounded BY CONSTRUCTION, not by data: the
    sketch is depth 4 x width 256 = <=1024 counter rows at any corpus
    size (that bound is the point of the sketch), the truth branch is a
    deterministic top-20. The <=20 result rows fold back as a VALUES
    literal and overestimate/bound_holds still compute in-plan; every
    quantity is a BIGINT, so the driver-side MIN is bit-identical to the
    relational MIN (the DuckDB oracle keeps the shared-CTE join text)."""
    from pyspark.sql import functions as F2

    def build_counts():
        # spread view: the token explode re-runs per bench attempt (the
        # persisted relation is dropped by clearCache) and the coarse
        # small-corpus scan serialized it (1.69 s vs 0.56 s at the 10x
        # replica, mode A/B)
        docs = spark.table(spread_documents_src(spark, sf_dir))
        w = docs.select(F2.explode(F2.split("text", " ")).alias("word")).filter(
            "word != ''"
        )
        return (
            w.groupBy("word")
            .agg(F2.count("*").cast("long").alias("true_count"))
            .persist()
        )

    # post-scan relations here are vocabulary-sized (see
    # _vocab_sized_reducers). The counts are a corpus memo: without it every
    # bench / driver invocation persisted a fresh copy of the same counts
    # relation for the app lifetime (r9 ADVICE), and its re-arm after
    # clearCache() keeps the union's two branches (sketch build, truth
    # probe) from each re-running the word explode inside the one job.
    with _vocab_sized_reducers(spark, sf_dir):
        counts = corpus_memo.memo(spark, sf_dir, "cms_counts", build_counts)
        depth = spark.sql("SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(j)")
        col = F2.expr(
            "CAST(conv(substr(md5(concat('cms', CAST(j AS STRING), '|', word)),"
            " 1, 15), 16, 10) AS BIGINT) % 256"
        )
        sketch = (
            counts.crossJoin(depth)
            .select("j", col.alias("col"), "true_count")
            .groupBy("j", "col")
            .agg(F2.sum("true_count").cast("long").alias("cnt"))
            .select(
                F2.lit(0).alias("tag"),
                "j",
                "col",
                "cnt",
                F2.lit(None).cast("string").alias("word"),
            )
        )
        truth = (
            counts.orderBy(F2.desc("true_count"), "word")
            .limit(20)
            .select(
                F2.lit(1).alias("tag"),
                F2.lit(None).cast("int").alias("j"),
                F2.lit(None).cast("bigint").alias("col"),
                F2.col("true_count").alias("cnt"),
                "word",
            )
        )
        rows = sketch.unionAll(truth).collect()
    import hashlib

    counters = {(r.j, r.col): r.cnt for r in rows if r.tag == 0}
    top = sorted((-r.cnt, r.word) for r in rows if r.tag == 1)

    def est(word: str) -> int:
        # identical hash form to the in-plan expression: first 15 hex chars
        # of md5('cms<j>|<word>') as a 60-bit integer, mod the width. A
        # (j, col) cell no truth word hashed into cannot be probed, so
        # .get() misses never occur for collected truth words.
        return min(
            counters[
                (j, int(hashlib.md5(f"cms{j}|{word}".encode()).hexdigest()[:15], 16) % 256)
            ]
            for j in range(4)
        )

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace(chr(39), chr(39) * 2) + "'"

    vals = ", ".join(
        f"({q(word)}, CAST({-negc} AS BIGINT), CAST({est(word)} AS BIGINT))"
        for negc, word in top
    )
    if not vals:  # empty corpus: zero heavy hitters, typed empty relation
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS word, CAST(NULL AS BIGINT) AS true_count,"
            " CAST(NULL AS BIGINT) AS cms_estimate, CAST(NULL AS BIGINT) AS overestimate,"
            " CAST(NULL AS BOOLEAN) AS bound_holds WHERE 1 = 0"
        )
    return spark.sql(
        f"""
SELECT word, true_count, cms_estimate,
  cms_estimate - true_count AS overestimate,
  CAST(cms_estimate >= true_count AS BOOLEAN) AS bound_holds
FROM (VALUES {vals}) AS t(word, true_count, cms_estimate)
"""
    )


register(
    "cms_heavy_hitters",
    "Count-Min sketch frequency estimation (depth 4 x width 256, shared "
    "md5 row hashes) for the corpus's top-20 tokens: counter SUM is "
    "map-side combinable so the sketch builds in one tiny 1024-group "
    "shuffle at any scale; point queries take MIN over the four probed "
    "counters and the CMS overestimate bound is asserted per row. The "
    "frequency sibling completing the kmv/hll mergeable-sketch family.",
    sql=_cms_sql,
    spark_fn=_cms_spark_fn,
)


def _bpe_body_sql(d: str, wf_src: str) -> str:
    """Shared BPE-merge body over a word-frequency relation ``wf_src``
    (columns word, freq). Two unrolled merge iterations; see
    _bpe_merge_train_fn for the algorithm/determinism contract."""
    if d == "spark":
        chars = "split(word, '')"
        join = "array_join"
        pairs = (
            "CASE WHEN size(a) >= 2 THEN transform(sequence(1, size(a) - 1),"
            " i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"
            " ELSE array() END"
        )
        expl = "SELECT freq, explode({arr}) AS p FROM {src}"
    else:
        chars = "string_split(word, '')"
        join = "array_to_string"
        pairs = (
            "[a[i] || ' ' || a[i + 1] FOR i IN generate_series(1, len(a) - 1)]"
        )
        expl = "SELECT freq, unnest({arr}) AS p FROM {src}"

    def pair_counts(name, sym_src):
        inner = expl.format(arr=pairs, src=sym_src)
        return f"""
{name} AS (
  SELECT p, CAST(SUM(freq) AS BIGINT) AS c
  FROM ({inner}) e GROUP BY p
)"""

    # merge application = literal leftmost non-overlapping replace,
    # iterated 3 passes (one pass skips an occurrence whose leading
    # separator the previous replacement consumed; later passes catch
    # it). The parse equals strict left-to-right BPE for same-symbol
    # runs <= 4 and for A!=B alternations; for odd same-symbol runs >= 5
    # it pairs occurrences differently (a tie-break-level divergence
    # from reference BPE, documented) while staying BIT-IDENTICAL across
    # Spark / DuckDB / Python str.replace — pinned by
    # test_bpe_merge_semantics, which is the property the cross-engine
    # value gate needs.
    def apply(s, b):
        pat = f"' ' || (SELECT p FROM {b}) || ' '"
        rep = f"' ' || (SELECT replace(p, ' ', '') FROM {b}) || ' '"
        out = s
        for _ in range(3):
            out = f"replace({out}, {pat}, {rep})"
        return out

    return f"""
WITH s0 AS (
  SELECT freq, ' ' || {join}({chars}, ' ') || ' ' AS s,
    {chars} AS a
  FROM {wf_src}
),
{pair_counts("p1c", "s0")},
b1 AS (SELECT p, c FROM p1c ORDER BY c DESC, p LIMIT 1),
s1 AS (
  SELECT freq, t.a FROM (
    SELECT freq, {apply("s", "b1")} AS s FROM s0
  ) r, LATERAL (SELECT {("split(trim(r.s), ' ')" if d == "spark" else "string_split(trim(r.s), ' ')")} AS a) t
),
{pair_counts("p2c", "s1")},
b2 AS (SELECT p, c FROM p2c ORDER BY c DESC, p LIMIT 1)
SELECT CAST(1 AS BIGINT) AS merge_rank, p AS pair,
  replace(p, ' ', '') AS merged_symbol, c AS pair_count FROM b1
UNION ALL
SELECT CAST(2 AS BIGINT), p, replace(p, ' ', ''), c FROM b2
"""


def _bpe_duck_sql(d: str) -> str | None:
    if d == "spark":
        return None
    wf = (
        "(SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM "
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) u "
        "WHERE word != '' GROUP BY word) wf"
    )
    return _bpe_body_sql("duck", wf)


def _bpe_merge_train_fn(spark, sf_dir):
    """Byte-Pair-Encoding merge TRAINING, two iterations, value-checked
    (the tokenizer-training sibling of ivf_kmeans_train — iteration count
    is a fixed contract, so the DuckDB oracle unrolls the identical two
    steps in one SQL text): word frequencies -> per-word symbol sequences
    (characters) -> corpus pair counts -> best pair (count DESC, pair ASC
    tie-break) -> merge applied to every word -> recount -> second best
    pair. Emits both learned merges with their exact integer counts; the
    merge-application parse contract (iterated leftmost replace) is
    pinned by test_bpe_merge_semantics.

    Plan: the ONLY data-sized step is the token-frequency aggregation
    (one explode + groupBy over occurrences); it is computed once and
    persisted as a |vocab|-sized relation, and every downstream stage
    (symbol strings, pair explode, argmax, merge application) is
    vocab-sized — the shape a real BPE trainer has at 100 TB, where the
    per-iteration work is O(|vocab|), not O(corpus). The trainer
    iterates DRIVER-SIDE like ivf_kmeans_train: each round runs one
    vocab-sized pair-count aggregation and collects the single argmax
    row, and the learned pair is folded back as a LITERAL — the shared
    SQL text instead references the argmax CTE six times (two scalar
    subqueries per replace pass), which Spark's WITH re-inlining turns
    into six re-executions (2.5 s vs 0.5 s at sf0.1; DuckDB shares CTEs
    and keeps the unrolled text as the oracle)."""
    # every exchange in this trainer carries |vocab|-or-smaller relations
    # (word frequencies, pair counts): see _vocab_sized_reducers. The
    # returned relation is a VALUES literal, no shuffle.
    with _vocab_sized_reducers(spark, sf_dir):
        return _bpe_merge_train_body(spark, _bpe_word_freq_view(spark, sf_dir))


def _bpe_word_freq_view(spark, sf_dir):
    """Name of the cached (word, freq) view of the corpus, a corpus memo.

    Every merge round queries this view several times, so the memo's
    re-arm after a session-wide clearCache() keeps each reference from
    re-running the corpus explode (cache matching strips the view alias,
    so re-persisting through spark.table serves every consumer)."""

    def build():
        from pyspark.sql import functions as F2

        # spread view: same rationale as _cms_spark_fn — the word-frequency
        # explode recomputes per bench attempt on a coarse 2-split scan
        wf = (
            spark.table(spread_documents_src(spark, sf_dir))
            .select(F2.explode(F2.split("text", " ")).alias("word"))
            .filter("word != ''")
            .groupBy("word")
            .agg(F2.count("*").cast("long").alias("freq"))
            .persist()
        )
        tag = hashlib.md5(
            f"{sf_dir}|{corpus_memo.fingerprint(sf_dir)}".encode()
        ).hexdigest()[:12]
        view = f"_bpe_wf_{tag}"
        wf.createOrReplaceTempView(view)
        return view

    return corpus_memo.memo(spark, sf_dir, "bpe_word_freq_view", build)


def _bpe_merge_train_body(spark, view):
    def q(sql):
        # This literal is interpolated into SPARK SQL text only, where the
        # default parser honors backslash escapes (unlike DuckDB) — escape
        # backslashes BEFORE doubling quotes so a corpus token containing
        # a backslash round-trips exactly (r9 ADVICE).
        return "'" + sql.replace("\\", "\\\\").replace(chr(39), chr(39) * 2) + "'"

    pair_counts = (
        "SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM ("
        "SELECT freq, explode(CASE WHEN size(a) >= 2 THEN"
        " transform(sequence(1, size(a) - 1),"
        " i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"
        " ELSE array() END) AS p FROM ({sym}) sym) e"
        " GROUP BY p ORDER BY c DESC, p LIMIT 1"
    )
    sym0 = f"SELECT freq, split(word, '') AS a FROM {view}"
    r1 = spark.sql(pair_counts.format(sym=sym0)).collect()[0]

    applied = f"' ' || array_join(split(word, ''), ' ') || ' '"
    pat, rep = q(f" {r1.p} "), q(" " + r1.p.replace(" ", "") + " ")
    for _ in range(3):
        applied = f"replace({applied}, {pat}, {rep})"
    sym1 = f"SELECT freq, split(trim({applied}), ' ') AS a FROM {view}"
    r2 = spark.sql(pair_counts.format(sym=sym1)).collect()[0]

    rows = ", ".join(
        f"(CAST({i} AS BIGINT), {q(r.p)}, {q(r.p.replace(' ', ''))},"
        f" CAST({int(r.c)} AS BIGINT))"
        for i, r in ((1, r1), (2, r2))
    )
    return spark.sql(
        f"SELECT merge_rank, pair, merged_symbol, pair_count FROM (VALUES"
        f" {rows}) AS t(merge_rank, pair, merged_symbol, pair_count)"
    )


def _bpe_apply_duck_sql(d: str) -> str | None:
    """Corpus tokenization with the learned BPE merges (VERDICT r9 #8):
    the operator a training pipeline actually runs daily. The oracle
    re-derives the two merges with the identical unrolled training text
    (_bpe_body_sql — DuckDB shares the CTEs), tokenizes each DISTINCT
    word once with the pinned iterated-leftmost-replace contract, and
    joins token counts back to the per-doc word stream."""
    if d == "spark":
        return None
    wf = (
        "(SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM "
        "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) u "
        "WHERE word != '' GROUP BY word) wf"
    )
    applied = "' ' || array_to_string(string_split(word, ''), ' ') || ' '"
    for rank in (1, 2):
        pat = f"' ' || (SELECT pair FROM merges WHERE merge_rank = {rank}) || ' '"
        rep = (
            "' ' || (SELECT merged_symbol FROM merges WHERE merge_rank = "
            f"{rank}) || ' '"
        )
        for _ in range(3):
            applied = f"replace({applied}, {pat}, {rep})"
    return f"""
WITH merges AS ({_bpe_body_sql("duck", wf)}),
dw AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
  FROM documents WHERE text IS NOT NULL
),
vocab AS (SELECT DISTINCT word FROM dw),
wt AS (
  SELECT word, CAST(len(word) AS BIGINT) AS n_chars_w,
    CAST(len(string_split(trim({applied}), ' ')) AS BIGINT) AS n_tok_w
  FROM vocab
)
SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(wt.n_chars_w) AS BIGINT) AS n_chars,
  CAST(SUM(wt.n_tok_w) AS BIGINT) AS n_tokens,
  CAST(FLOOR(CAST(SUM(wt.n_chars_w) AS DOUBLE) / SUM(wt.n_tok_w)
             * 10000.0 + 0.5) / CAST(10000.0 AS DOUBLE) AS DOUBLE)
    AS compression_ratio
FROM dw JOIN wt ON wt.word = dw.word
GROUP BY dw.doc_id
"""


def _bpe_apply_fn(spark, sf_dir):
    """BPE tokenization APPLY: learn the two merges (reusing
    _bpe_merge_train_fn — keyed wf view + argmax collects, all cached per
    corpus), tokenize the VOCABULARY once (per-distinct-word iterated
    leftmost replace, the contract pinned by test_bpe_merge_semantics),
    then broadcast-join token counts onto the per-doc word stream and
    aggregate per doc — tokens/doc and chars/token compression, the
    numbers a data pipeline reports after retraining a tokenizer.

    Plan: the merge application is |vocab|-sized (never per-occurrence —
    at 100 TB the vocab relation is millions of rows while occurrences
    are trillions); the occurrence stream pays one explode + broadcast
    join + per-doc aggregation, the same bounded shape as the oracle's.
    If the vocab outgrows the broadcast threshold the join degrades to a
    shuffle hash join on word — still corpus-shaped, no plan change."""
    from pyspark.sql import functions as F2

    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    # The learned merge table is a trained artifact (a production
    # tokenizer is trained once and applied daily): a corpus memo like the
    # IVF coarse quantizer — the first execution always trains from data;
    # repeated bench attempts amortize the two argmax jobs (disclosed in
    # bench.py's amortized_artifact list).
    merges = corpus_memo.memo(
        spark,
        sf_dir,
        "bpe_merges",
        lambda: {
            int(r.merge_rank): (r.pair, r.merged_symbol)
            for r in _bpe_merge_train_fn(spark, sf_dir).collect()
        },
    )
    view = _bpe_word_freq_view(spark, sf_dir)

    def q(s):
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    applied = "' ' || array_join(split(word, ''), ' ') || ' '"
    for rank in (1, 2):
        pat, rep = q(f" {merges[rank][0]} "), q(f" {merges[rank][1]} ")
        for _ in range(3):
            applied = f"replace({applied}, {pat}, {rep})"
    wt = spark.sql(
        f"SELECT word, CAST(length(word) AS BIGINT) AS n_chars_w,"
        f" CAST(size(split(trim({applied}), ' ')) AS BIGINT) AS n_tok_w"
        f" FROM {view}"
    )
    dw = spark.sql(
        "SELECT doc_id, explode(filter(split(text, ' '), w -> w != '')) AS word"
        " FROM documents WHERE text IS NOT NULL"
    )
    return (
        dw.join(F2.broadcast(wt), "word")
        .groupBy("doc_id")
        .agg(
            F2.count("*").cast("long").alias("n_words"),
            F2.sum("n_chars_w").cast("long").alias("n_chars"),
            F2.sum("n_tok_w").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens",
            (
                F2.floor(
                    F2.col("n_chars").cast("double")
                    / F2.col("n_tokens")
                    * 10000.0
                    + F2.lit(0.5)
                )
                / F2.lit(10000.0)
            )
            .cast("double")
            .alias("compression_ratio"),
        )
    )


register(
    "bpe_apply_tokenize",
    "Corpus tokenization with the learned BPE merge table: per-doc word / "
    "char / token counts and the chars-per-token compression ratio after "
    "applying both trained merges (iterated leftmost replace — the parse "
    "contract pinned cross-engine by test_bpe_merge_semantics). Merge "
    "application is vocabulary-sized, never per-occurrence; the "
    "occurrence stream pays one explode + broadcast join + per-doc "
    "aggregation. The oracle re-derives the merges from the identical "
    "unrolled training SQL and tokenizes the same distinct-word relation.",
    sql=_bpe_apply_duck_sql,
    spark_fn=_bpe_apply_fn,
)


register(
    "bpe_merge_train",
    "BPE tokenizer-merge training, two unrolled iterations value-checked "
    "end-to-end: corpus word frequencies -> character symbol sequences -> "
    "exact pair counts -> deterministic best-pair merge (count DESC, pair "
    "ASC) applied to the whole vocabulary -> recount -> second merge. "
    "The corpus-sized aggregation runs once (persisted vocab relation); "
    "every merge iteration is O(|vocab|) — the real trainer's shape at "
    "scale. Oracle runs the identical unrolled text.",
    sql=_bpe_duck_sql,
    spark_fn=_bpe_merge_train_fn,
)
