"""Batched property tests: algebraic invariants over seeded random corpora.

The reference ships no property-based testing (SURVEY §5); these cover the
two places where a subtle bug would survive example-based tests — the line
codec (arbitrary unicode payloads, MessageTransformationService.java:64-99 /
DataDecodingService.java:47-108) and the production robust combiner, the
one-pass kernel's ``_combine`` (WeightedAveragePositionCombiner.java:105-461).
Each codec property runs as ONE Spark job over hundreds of generated cases
(per-example jobs would take minutes); the combiner properties call the
kernel function directly on padded NumPy slot arrays. Corpora are seeded so
failures reproduce exactly.
"""

import math
import random

import numpy as np
from pyspark.sql import functions as F

# -- codec ------------------------------------------------------------------

_NASTY = [
    "",
    " ",
    "\t\nplain\r\n",
    "a" * 10_000,
    "\x00embedded\x00nul",
    "héllo wörld – ünïcode",
    "日本語テキスト 中文 한국어",
    "🛜📶 emoji payload 🗼",
    "‮text with RTL override‬",
    '{"json": ["array", {"nested": true}], "n": 1.5e-8}',
    "line1\nline2\nline3",
    "퟿ surrogate-range neighbors",
]


def _text_corpus(n=300, seed=20260814):
    rng = random.Random(seed)
    out = list(_NASTY)
    for _ in range(n):
        k = rng.randint(0, 400)
        chars = []
        for _ in range(k):
            # BMP minus the surrogate block (not encodable in UTF-8)
            cp = rng.randint(0, 0xD7FF) if rng.random() < 0.9 else rng.randint(0xE000, 0xFFFD)
            chars.append(chr(cp))
        out.append("".join(chars))
    return out


def test_codec_roundtrip_is_identity_for_any_unicode(spark):
    """decode(encode(text)) == text for arbitrary unicode, including NULs,
    emoji, RTL controls, and 10 KB payloads — the Optional.empty semantics
    must never corrupt a VALID line."""
    from wifi_location_data_pipeline_spark.sources.codec import (
        decode_line_text,
        encode_scan_line,
    )

    corpus = _text_corpus()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "id int, text string"
    )
    back = df.select(
        "id", "text", decode_line_text(encode_scan_line(F.col("text"))).alias("rt")
    )
    bad = back.filter(~F.col("rt").eqNullSafe(F.col("text"))).count()
    assert bad == 0


def test_codec_malformed_lines_decode_to_null(spark):
    """Arbitrary garbage (wrong base64 alphabet, truncated gzip, valid
    base64 of non-gzip bytes) must decode to NULL, never raise and never
    produce a phantom payload."""
    from wifi_location_data_pipeline_spark.sources.codec import decode_line_text

    rng = random.Random(99)
    garbage = ["!!!", "====", "aGVsbG8=", "H4sI", "\x00\x01"]
    for _ in range(100):
        k = rng.randint(1, 60)
        garbage.append(
            "".join(rng.choice("ABCDEFab=+/!@# \t") for _ in range(k))
        )
    df = spark.createDataFrame([(g,) for g in garbage], "line string")
    decoded = df.select(decode_line_text(F.col("line")).alias("t"))
    assert decoded.filter(F.col("t").isNotNull()).count() == 0


# -- robust combiner --------------------------------------------------------

_ALGOS = (
    "proximity",
    "weighted_centroid",
    "log_distance",
    "rssi_ratio",
    "trilateration",
    "maximum_likelihood",
)


def _rand_positions(rng, n, lat0, lon0, spread):
    rows = []
    for a in rng.sample(_ALGOS, n):
        rows.append(
            {
                "algorithm": a,
                "weight": rng.uniform(0.05, 1.5),
                "latitude": lat0 + rng.uniform(-spread, spread),
                "longitude": lon0 + rng.uniform(-spread, spread),
                "altitude": rng.uniform(-10, 300),
                "accuracy": rng.uniform(1.0, 80.0),
                "confidence": rng.uniform(0.1, 0.9),
            }
        )
    return rows


def _combine(rows_by_req):
    """Pack each request's positions, in list order, into the kernel's
    padded (rows, 6) slot arrays and run the production combiner."""
    from wifi_location_data_pipeline_spark.positioning.onepass_kernel import (
        _ALPHA_RANK,
        _combine as combine,
    )
    from wifi_location_data_pipeline_spark.positioning.selection import ALGORITHMS

    fields = ("latitude", "longitude", "altitude", "accuracy", "confidence")
    rids = list(rows_by_req)
    shape = (len(rids), len(ALGORITHMS))
    p_w = np.zeros(shape)
    vals = {f: np.full(shape, np.nan) for f in fields}
    p_alg = np.full(shape, -1)
    for i, rid in enumerate(rids):
        for j, r in enumerate(rows_by_req[rid]):
            p_w[i, j] = r["weight"]
            for f in fields:
                vals[f][i, j] = r[f]
            p_alg[i, j] = ALGORITHMS.index(r["algorithm"])
    present = p_alg >= 0
    out = combine(p_w, *(vals[f] for f in fields), present, present.sum(axis=1),
                  _ALPHA_RANK[np.maximum(p_alg, 0)])
    return {
        rid: {
            **{f: float(out[f][i]) for f in fields},
            "is_collinear": bool(out["is_collinear"][i]),
            "methods_used": sorted(ALGORITHMS[a] for a in p_alg[i][present[i]]),
        }
        for i, rid in enumerate(rids)
    }


def test_combiner_identical_points_collapse_to_that_point():
    """All algorithms reporting the SAME coordinates (any weights) must
    combine to exactly those coordinates — median, trimmed mean, and MAD
    outlier handling all degenerate to the common value."""
    rng = random.Random(4242)
    cases = {}
    want = {}
    for i in range(150):
        lat, lon, alt = (
            rng.uniform(-80, 80),
            rng.uniform(-179, 179),
            rng.uniform(-5, 200),
        )
        n = rng.randint(1, 6)
        rows = _rand_positions(rng, n, lat, lon, 0.0)
        for r in rows:
            r["latitude"], r["longitude"], r["altitude"] = lat, lon, alt
        cases[f"c{i}"] = rows
        want[f"c{i}"] = (lat, lon, alt)
    got = _combine(cases)
    assert set(got) == set(cases)
    for rid, (lat, lon, alt) in want.items():
        r = got[rid]
        assert math.isclose(r["latitude"], lat, abs_tol=1e-9), rid
        assert math.isclose(r["longitude"], lon, abs_tol=1e-9), rid
        assert math.isclose(r["altitude"], alt, abs_tol=1e-9), rid


def test_combiner_is_permutation_invariant():
    """Reordering the positions array must not change the output beyond
    float summation order (last-ulp): the reference's parallel execution
    returns algorithms in arbitrary completion order
    (WifiPositioningCalculator.java:179-294). Bit-exact determinism in the
    production path comes from the one-pass kernel sorting each request's
    rows by its pack key (onepass_kernel.pack_requests) BEFORE combining —
    this property pins the semantic invariance of the combiner itself."""
    rng = random.Random(777)
    base = {}
    shuffled = {}
    for i in range(120):
        rows = _rand_positions(
            rng, rng.randint(1, 6), rng.uniform(-60, 60), rng.uniform(-179, 179), 0.01
        )
        perm = rows[:]
        rng.shuffle(perm)
        base[f"p{i}"] = rows
        shuffled[f"p{i}"] = perm
    a = _combine(base)
    b = _combine(shuffled)
    for rid in base:
        ra, rb = a[rid], b[rid]
        for fld in ("latitude", "longitude", "altitude", "accuracy", "confidence"):
            va, vb = ra[fld], rb[fld]
            # 1e-9 relative: summation-order noise amplified through the
            # covariance/condition-number accuracy adjustment; a genuine
            # order dependence (e.g. a different median pick) shows up at
            # 1e-2+ and still fails loudly
            assert (va is None and vb is None) or math.isclose(
                va, vb, rel_tol=1e-9, abs_tol=1e-9
            ), (rid, fld, va, vb)
        assert sorted(ra["methods_used"]) == sorted(rb["methods_used"]), rid


def test_combiner_single_position_passes_through():
    """A lone algorithm's position must come back unchanged (modulo the
    combiner's accuracy/confidence adjustments being deterministic): the
    degenerate one-element case of every robust statistic."""
    rng = random.Random(31337)
    cases = {}
    src = {}
    for i in range(100):
        rows = _rand_positions(
            rng, 1, rng.uniform(-60, 60), rng.uniform(-179, 179), 0.05
        )
        cases[f"s{i}"] = rows
        src[f"s{i}"] = rows[0]
    got = _combine(cases)
    for rid, r in src.items():
        o = got[rid]
        assert math.isclose(o["latitude"], r["latitude"], abs_tol=1e-12), rid
        assert math.isclose(o["longitude"], r["longitude"], abs_tol=1e-12), rid
        assert math.isclose(o["altitude"], r["altitude"], abs_tol=1e-12), rid


def test_shingle_kernel_matches_sql_spec_on_arbitrary_unicode(spark):
    """The Arrow shingle kernel (_batch_shingle_bases) must be bit-identical
    to the SQL spec — split(text,' ') → 3-gram array_distinct shingles →
    conv(substr(md5(shingle),1,15),16,10) — for arbitrary unicode text,
    including NULs, control chars, repeated/leading/trailing spaces (empty
    tokens!), newlines, and NULL rows. One Spark job for the whole corpus."""
    from wifi_location_data_pipeline_spark.plans.llm_queries import (
        _batch_shingle_bases,
    )

    corpus = _text_corpus(n=150, seed=20260815) + [
        "a  b   c    d",          # empty tokens between multi-spaces
        " leading and trailing ", # boundary empty tokens
        "x y z",                  # minimal 1-shingle doc
        None,                     # NULL text row
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )
    rows = df.selectExpr(
        "doc_id",
        "transform(array_distinct(transform(sequence(1, size(split(text,' ')) - 2),"
        " i -> concat(element_at(split(text,' '), i), ' ',"
        " element_at(split(text,' '), i + 1), ' ',"
        " element_at(split(text,' '), i + 2)))),"
        " s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)) AS bases",
    ).where("size(split(text,' ')) >= 3").collect()
    sql_bases = {r["doc_id"]: list(r["bases"]) for r in rows}

    keep, counts, offsets, bases = _batch_shingle_bases(corpus, 3)
    kernel_bases = {
        i: list(bases[o : o + c]) for i, c, o in zip(keep, counts, offsets)
    }
    assert kernel_bases == sql_bases
