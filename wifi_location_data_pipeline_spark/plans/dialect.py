"""Two-dialect SQL emission helpers.

Every registry query is written once as a dialect-parameterized template so
the Spark plan and the DuckDB oracle execute the *same* semantics. The
helpers below cover the few spots where the dialects' function surfaces
diverge; everything else is shared ANSI SQL.

Cross-dialect gotchas encoded here (verified against pyspark 4.1 / duckdb 1.x):
- DuckDB (this build) lacks ``regexp_like`` → ``regexp_matches``.
- DuckDB ``SUM(int)`` → HUGEINT, ``floor`` → DOUBLE → explicit casts.
- exact interpolated median: Spark ``percentile``, DuckDB ``quantile_cont``.
- epoch seconds: Spark ``unix_timestamp``, DuckDB ``epoch``.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"

# Placeholder the Spark executor swaps for the parallelism-restored documents
# view (llm_queries.spread_documents_src) at run time. CPU-heavy text queries
# opt in via docs_table(d): the DuckDB oracle text keeps the plain table name
# (oracle text must stay byte-stable), while the Spark text gets the view
# whose round-robin exchange spreads the single-row-group test-corpus scan
# across the cores. When the scan is already parallel (a multi-row-group
# file, or a directory table of several parts) the view IS the plain table.
DOCS_SPREAD_TOKEN = "__DOCS_SPREAD__"


def docs_table(d: str) -> str:
    """Documents relation for CPU-heavy text queries: oracle reads the plain
    table; Spark reads the spread view (scan-parallelism restored)."""
    return DOCS_SPREAD_TOKEN if d == SPARK else "documents"


def regexp_like(d: str, col: str, pattern: str) -> str:
    fn = "regexp_like" if d == SPARK else "regexp_matches"
    return f"{fn}({col}, '{pattern}')"


def median(d: str, col: str) -> str:
    if d == SPARK:
        return f"percentile({col}, 0.5)"
    return f"quantile_cont(CAST({col} AS DOUBLE), 0.5)"


def percentile(d: str, col: str, p: float) -> str:
    if d == SPARK:
        return f"percentile({col}, {p})"
    return f"quantile_cont(CAST({col} AS DOUBLE), {p})"


def epoch_s(d: str, col: str) -> str:
    """Whole epoch seconds, timezone-free.

    The corpus timestamps read as TIMESTAMP_NTZ in Spark and naive TIMESTAMP
    in DuckDB. ``timestampdiff`` against the NTZ epoch avoids any session-
    timezone interpretation (``unix_timestamp`` would convert NTZ via the
    session zone — wrong on a non-UTC caller session). DuckDB CAST
    rounds-half-up, so FLOOR explicitly to keep sub-second rows aligned."""
    if d == SPARK:
        return f"timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
    return f"CAST(FLOOR(epoch({col})) AS BIGINT)"


def fmt_ts(d: str, col: str, spark_fmt: str = "yyyy-MM-dd HH:mm:ss", duck_fmt: str = "%Y-%m-%d %H:%M:%S") -> str:
    if d == SPARK:
        return f"date_format({col}, '{spark_fmt}')"
    return f"strftime({col}, '{duck_fmt}')"


def hex_to_bigint(d: str, hex_expr: str) -> str:
    """Hex string (≤15 chars, to stay in int64) → BIGINT, portable."""
    if d == SPARK:
        return f"CAST(conv({hex_expr}, 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', {hex_expr}) AS BIGINT)"


def bigint_div(d: str, a: str, b: int) -> str:
    """Exact integer division on BIGINTs (no double round-trip — doubles lose
    bits past 2^53, and hex-derived values span the full 60-bit range)."""
    if d == SPARK:
        return f"({a} DIV {b})"
    return f"({a} // {b})"


def int_floor_div(d: str, a: str, b: int) -> str:
    """Integer floor-division for non-negative operands, portable.

    The divisor is CAST to DOUBLE: a bare ``21.0`` parses as DECIMAL in
    both engines and Spark then runs BigDecimal division per row; double
    division is exact here for the magnitudes involved (|a| < 2^52) and
    identical cross-engine."""
    return f"CAST(FLOOR({a} / CAST({b}.0 AS DOUBLE)) AS BIGINT)"


def regexp_count(d: str, col: str, pattern: str) -> str:
    """Count non-overlapping regex matches, portable."""
    if d == SPARK:
        return f"regexp_count({col}, '{pattern}')"
    return f"len(regexp_extract_all({col}, '{pattern}'))"


def split_words(d: str, col: str) -> str:
    """Whitespace tokenization to an array/list of words."""
    if d == SPARK:
        return f"split({col}, ' ')"
    return f"string_split({col}, ' ')"


def words_with_pos(d: str, table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """Subquery producing one row per token: (id, pos [1-based], word).

    Spark ``posexplode`` is 0-based; DuckDB ``generate_subscripts`` is 1-based
    — normalized to 1-based here so shingle self-joins are dialect-neutral.
    """
    if d == SPARK:
        return (
            f"SELECT {id_col}, pos + 1 AS pos, word FROM (SELECT {id_col}, "
            f"posexplode(split({text_col}, ' ')) AS (pos, word) FROM {table})"
        )
    return (
        f"SELECT {id_col}, generate_subscripts(string_split({text_col}, ' '), 1) AS pos, "
        f"unnest(string_split({text_col}, ' ')) AS word FROM {table}"
    )


def sorted_distinct_words(d: str, col: str) -> str:
    """Canonical word-set string (sorted distinct tokens re-joined)."""
    if d == SPARK:
        return f"array_join(array_sort(array_distinct(split({col}, ' '))), ' ')"
    return f"array_to_string(list_sort(list_distinct(string_split({col}, ' '))), ' ')"


def array_double(d: str, col: str) -> str:
    """Cast a float array column to double elements (exact widening)."""
    if d == SPARK:
        return f"CAST({col} AS ARRAY<DOUBLE>)"
    return f"CAST({col} AS DOUBLE[])"


def dot(d: str, a: str, b: str) -> str:
    """Dot product of two double arrays; both dialects left-fold in order."""
    if d == SPARK:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    return f"list_dot_product({a}, {b})"


def xor_int(d: str, a: str, b: str) -> str:
    """Bitwise XOR of two integer expressions (DuckDB ``^`` is power)."""
    if d == SPARK:
        return f"({a} ^ {b})"
    return f"xor({a}, {b})"


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_parts(
    d: str, lat: str, lon: str, precision: int = 6, gx: str = "gx", gy: str = "gy"
) -> tuple[str, str, str]:
    """Standard geohash encoding as pure column arithmetic (no UDF).

    Mirrors the reference's ``wifi_access_points.geohash`` GSI
    (WifiAccessPoint.java:73-101). Bit i of an integer v is extracted as
    ``floor(v / 2^i) % 2`` — plain arithmetic, identical in Spark and DuckDB,
    so one generator emits both dialects. Total bits = 5 * precision; even
    geohash bit positions (MSB-first) take longitude bits, odd take latitude,
    per the public geohash spec.

    Returns (gx_expr, gy_expr, geohash_char_concat): compute gx/gy once in a
    CTE, then reference them by the given names in the concat expression (a
    correlated scalar subquery would not decorrelate in Spark).
    """
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    x = f"CAST(FLOOR((({lon}) + 180.0) / 360.0 * {2 ** lon_bits}) AS BIGINT)"
    y = f"CAST(FLOOR((({lat}) + 90.0) / 180.0 * {2 ** lat_bits}) AS BIGINT)"
    # clamp the degenerate upper edge (lat=90 / lon=180 land exactly on 2^n)
    x = f"LEAST({x}, {2 ** lon_bits - 1})"
    y = f"LEAST({y}, {2 ** lat_bits - 1})"
    sub = "substring" if d == SPARK else "substr"

    chars = []
    for c in range(precision):  # char c covers geohash bits 5c .. 5c+4 (MSB first)
        terms = []
        for j in range(5):  # j = bit within char, MSB first → weight 2^(4-j)
            k = 5 * c + j  # global geohash bit position
            if k % 2 == 0:
                v, i = gx, lon_bits - 1 - k // 2
            else:
                v, i = gy, lat_bits - 1 - (k - 1) // 2
            terms.append(f"(CAST(FLOOR({v} / {2 ** i}.0) AS BIGINT) % 2) * {2 ** (4 - j)}")
        idx = " + ".join(terms)
        chars.append(f"{sub}('{GEOHASH_BASE32}', CAST({idx} AS INT) + 1, 1)")
    return x, y, f"concat({', '.join(chars)})"


def ts_expr(d: str, col: str) -> str:
    """Timestamp column from the synthetic corpus.

    The corpus parquet stores TIMESTAMP(MICROS, isAdjustedToUTC=false):
    Spark reads TIMESTAMP_NTZ, DuckDB a naive TIMESTAMP — same wall-clock
    values, so both dialects pass the column through. Kept as a helper so a
    future corpus change (e.g. back to TIMESTAMP(NANOS), which Spark 4.1
    cannot read without a cast) stays a one-line fix.
    """
    return col
