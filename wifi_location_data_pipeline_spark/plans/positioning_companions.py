"""Oracle-checkable companions for the flagship positioning paths.

The full ensemble (``positioning_ensemble``) and the tiered batch job carry
iterative numerics (trilateration lstsq / MLE gradient ascent) that no SQL
oracle can express, so the external gate records rows-only checks for them.
These companions put the closed-form parts under a value-level oracle:

- ``position_combiner_robust`` — synthetic per-request algorithm positions
  (3-7 per request; planted collinear sets, MAD accuracy outliers,
  zero-total-weight and single-position requests) run through the reference
  Column-DSL combiner ``combiner.combine_positions``; the oracle is an
  independent row-wise SQL formulation of
  WeightedAveragePositionCombiner.java:105-461 + GDOPCalculator.java:650-731
  semantics. Production combines in ``onepass_kernel._combine``; the
  onepass-vs-multipass parity tests and the combiner property tests tie it
  to this reference.

- ``ensemble_closed_form`` — positioning requests restricted to ≤2 distinct
  APs, where trilateration/MLE carry base weight 0 (selection framework
  "Base Weights by AP Count"), so the REAL ``position_requests_onepass``
  engine path — physics gate, AP index join, context classes, selection
  matrix, proximity/WCL/log-distance/RSSI-ratio, robust combiner — is fully
  closed-form and the oracle replicates it row-wise end-to-end.

Determinism notes (why the hash compare is stable):
- Every derived RSSI/accuracy input is integer-valued, so sums are exact in
  double regardless of fold order; class boundaries (avg/stddev thresholds)
  are decided on bit-identical values in both engines.
- Selection weights are products of 1-digit decimal literals CAST to DOUBLE
  multiplied in the same order on both sides — bit-identical.
- Outputs are rounded with FLOOR(x*10^k + 0.5)/10^k — plain double
  arithmetic, identical in both engines (Spark's ROUND half-ups the decimal
  repr while DuckDB rounds the binary double; the FLOOR form avoids that).
"""

from __future__ import annotations

from wifi_location_data_pipeline_spark.plans.dialect import DUCK, SPARK
from wifi_location_data_pipeline_spark.plans.queries import (  # noqa: E402
    _obs_seed,
    users_cte,
)
from wifi_location_data_pipeline_spark.plans.queries import (
    _fold_events_stats as _fold,
)
from wifi_location_data_pipeline_spark.positioning.onepass_kernel import _APC, _GQ, _SD, _SQ
from wifi_location_data_pipeline_spark.positioning.selection import (
    ALGORITHMS,
    BASE_WEIGHTS,
    DISTRIBUTION_MULT,
    GEOMETRY_MULT,
    SIGNAL_MULT,
)

SING = "1e-10"
COLL_DEV = "0.0002"


def _r(expr: str, digits: int) -> str:
    """Half-up rounding via FLOOR — identical double arithmetic both
    dialects. The divisor literal MUST be cast: Spark parses ``10000.0`` as
    DECIMAL(6,1), so ``FLOOR(...)/10000.0`` silently emits DecimalType —
    the round-2 hash-fail class (the local value gate normalizes Decimals;
    the driver's hash compare does not)."""
    p = 10 ** digits
    return f"(FLOOR(({expr}) * {p}.0 + 0.5) / CAST({p}.0 AS DOUBLE))"


def _pick(d: str, items: tuple[str, ...], idx1: str) -> str:
    """1-based literal-list element pick."""
    lits = ", ".join(f"'{x}'" for x in items)
    if d == SPARK:
        return f"element_at(array({lits}), CAST({idx1} AS INT))"
    return f"list_extract([{lits}], CAST({idx1} AS INT))"


def _sorted_methods(d: str, col: str) -> str:
    if d == SPARK:
        return f"array_join(array_sort(collect_set({col})), ',')"
    return f"array_to_string(list_sort(list(DISTINCT {col})), ',')"


# ---------------------------------------------------------------------------
# Shared row-wise combiner oracle (DuckDB): WeightedAveragePositionCombiner
# over a relation (request_id, algorithm, weight, latitude, longitude,
# altitude, accuracy, confidence). Returns a full SELECT; request_id keeps
# the input column's type.
# ---------------------------------------------------------------------------


def combiner_oracle_sql(rel: str) -> str:
    trimk = "CAST(FLOOR(cn * 0.25) AS BIGINT)"
    return f"""
SELECT fr.request_id,
  {_r('CASE WHEN fr.n = 1 OR fr.total_w <= 0.0 THEN fr.top_lat ELSE fr.mean_lat END', 6)} AS latitude,
  {_r('CASE WHEN fr.n = 1 OR fr.total_w <= 0.0 THEN fr.top_lon ELSE fr.mean_lon END', 6)} AS longitude,
  {_r('CASE WHEN fr.n = 1 OR fr.total_w <= 0.0 THEN fr.top_alt ELSE fr.mean_alt END', 4)} AS altitude,
  {_r('''CASE WHEN fr.n = 1 OR fr.total_w <= 0.0 THEN fr.top_acc
       WHEN fr.is_coll THEN GREATEST(6.0, fr.robust * GREATEST(fr.gqf, SQRT(fr.cond_v / 10.0)))
       ELSE GREATEST(fr.robust, fr.robust * fr.gqf) END''', 2)} AS accuracy,
  {_r('''CASE WHEN fr.n = 1 OR fr.total_w <= 0.0 THEN fr.top_conf
       WHEN fr.is_coll THEN LEAST(0.69, fr.mean_conf / (fr.gqf * 1.2))
       ELSE fr.mean_conf / SQRT(fr.gqf) END''', 4)} AS confidence,
  fr.methods_used,
  CASE WHEN fr.n = 1 THEN FALSE ELSE fr.is_coll END AS is_collinear
FROM (
  SELECT f3.*,
    CASE WHEN f3.is_coll THEN 2.0 + LEAST(1.0, LOG10(GREATEST(f3.cond_v, 1.0)) / 2.0)
         ELSE CASE WHEN f3.cond_v < 5.0 THEN 1.0
                   WHEN f3.cond_v < 20.0 THEN 1.0 + (f3.cond_v - 5.0) / 15.0
                   ELSE 2.0 + LEAST(1.0, (f3.cond_v - 20.0) / 80.0) END END AS gqf
  FROM (
    SELECT f2.*,
      CASE WHEN ABS(f2.det_v) < {SING} OR (f2.trace_v * f2.trace_v - 4.0 * f2.det_v) < 0.0
           THEN 1e12
           ELSE ABS((f2.trace_v + SQRT(GREATEST(f2.trace_v * f2.trace_v - 4.0 * f2.det_v, 0.0))) / 2.0)
                / GREATEST(ABS((f2.trace_v - SQRT(GREATEST(f2.trace_v * f2.trace_v - 4.0 * f2.det_v, 0.0))) / 2.0),
                           {SING}) END AS cond_v
    FROM (
      SELECT fin.*,
        fin.cov_ll + fin.cov_oo AS trace_v,
        fin.cov_ll * fin.cov_oo - fin.cov_lo * fin.cov_lo AS det_v,
        (fin.npts >= 3) AND (fin.pcov_ll < {SING} OR fin.pcov_oo < {SING}
          OR COALESCE(fin.max_dev, 0.0) <= {COLL_DEV}) AS is_coll,
        (CASE WHEN fin.n <= 3 THEN fin.med ELSE 0.7 * fin.med + 0.3 * fin.trimmed END)
          * (1.0 + (CAST(fin.n_outliers AS DOUBLE) / fin.npts) * 0.5) AS robust
      FROM (
        WITH g1 AS MATERIALIZED (
          SELECT request_id,
            COUNT(*) AS n,
            CAST(COUNT(*) AS DOUBLE) AS npts,
            SUM(weight) AS total_w,
            SUM(latitude * weight) AS swlat,
            SUM(longitude * weight) AS swlon,
            SUM(altitude * weight) AS swalt,
            SUM(confidence * weight) AS swconf,
            SUM(latitude) AS slat, SUM(longitude) AS slon,
            median(CAST(accuracy AS DOUBLE)) AS med,
            array_to_string(list_sort(list(DISTINCT algorithm)), ',') AS methods_used
          FROM {rel} GROUP BY request_id
        ),
        g2 AS MATERIALIZED (
          SELECT g1.*,
            CASE WHEN total_w > 0.0 THEN swlat / total_w END AS mean_lat,
            CASE WHEN total_w > 0.0 THEN swlon / total_w END AS mean_lon,
            CASE WHEN total_w > 0.0 THEN swalt / total_w END AS mean_alt,
            CASE WHEN total_w > 0.0 THEN swconf / total_w END AS mean_conf,
            slat / npts AS plain_lat,
            slon / npts AS plain_lon
          FROM g1
        ),
        c1 AS MATERIALIZED (
          SELECT p.request_id,
            SUM((p.latitude - g.mean_lat) * (p.latitude - g.mean_lat)) / MAX(g.npts) AS cov_ll,
            SUM((p.longitude - g.mean_lon) * (p.longitude - g.mean_lon)) / MAX(g.npts) AS cov_oo,
            SUM((p.latitude - g.mean_lat) * (p.longitude - g.mean_lon)) / MAX(g.npts) AS cov_lo,
            SUM((p.latitude - g.plain_lat) * (p.latitude - g.plain_lat)) / MAX(g.npts) AS pcov_ll,
            SUM((p.longitude - g.plain_lon) * (p.longitude - g.plain_lon)) / MAX(g.npts) AS pcov_oo,
            SUM((p.latitude - g.plain_lat) * (p.longitude - g.plain_lon)) / MAX(g.npts) AS pcov_lo,
            median(ABS(p.accuracy - g.med)) AS mad
          FROM {rel} p JOIN g2 g USING (request_id) GROUP BY p.request_id
        ),
        tr AS (
          SELECT request_id, SUM(accuracy) / COUNT(*) AS trimmed
          FROM (
            SELECT p.request_id, p.accuracy,
              ROW_NUMBER() OVER (PARTITION BY p.request_id ORDER BY p.accuracy) AS rka,
              COUNT(*) OVER (PARTITION BY p.request_id) AS cn
            FROM {rel} p
          ) z
          WHERE rka > {trimk} AND rka <= cn - {trimk}
          GROUP BY request_id
        ),
        ot AS (
          SELECT p.request_id,
            SUM(CASE WHEN p.accuracy > g.med + 2.0 * c.mad THEN 1 ELSE 0 END) AS n_outliers
          FROM {rel} p
            JOIN g1 g USING (request_id)
            JOIN c1 c USING (request_id)
          GROUP BY p.request_id
        ),
        s2 AS (
          SELECT c1.request_id,
            CASE WHEN c1.pcov_oo = 0.0 THEN NULL ELSE c1.pcov_lo / c1.pcov_oo END AS slope,
            g2.plain_lat, g2.plain_lon
          FROM c1 JOIN g2 USING (request_id)
        ),
        s3 AS (
          SELECT p.request_id,
            MAX(ABS(p.latitude - (s2.slope * p.longitude
              + (s2.plain_lat - s2.slope * s2.plain_lon)))) AS max_dev
          FROM {rel} p JOIN s2 USING (request_id) GROUP BY p.request_id
        ),
        tp AS (
          SELECT request_id,
            latitude AS top_lat, longitude AS top_lon, altitude AS top_alt,
            accuracy AS top_acc, confidence AS top_conf
          FROM (
            SELECT p.*,
              ROW_NUMBER() OVER (PARTITION BY p.request_id
                ORDER BY p.weight DESC, p.algorithm DESC) AS rt
            FROM {rel} p
          ) z WHERE rt = 1
        )
        SELECT g2.request_id, g2.n, g2.npts, g2.total_w, g2.med, g2.methods_used,
          g2.mean_lat, g2.mean_lon, g2.mean_alt, g2.mean_conf,
          c1.cov_ll, c1.cov_oo, c1.cov_lo, c1.pcov_ll, c1.pcov_oo, c1.mad,
          tr.trimmed, ot.n_outliers, s3.max_dev,
          tp.top_lat, tp.top_lon, tp.top_alt, tp.top_acc, tp.top_conf
        FROM g2
          JOIN c1 USING (request_id)
          JOIN tr USING (request_id)
          JOIN ot USING (request_id)
          JOIN s3 USING (request_id)
          JOIN tp USING (request_id)
      ) fin
    ) f2
  ) f3
) fr
"""


# ---------------------------------------------------------------------------
# position_combiner_robust: derivation + spark fn + oracle
# ---------------------------------------------------------------------------


def combiner_positions_sql(d: str) -> str:
    """Per-request algorithm positions derived from events, dual-dialect.

    Shapes planted: 3-7 positions normally; user%13=1 → single position
    (n=1 branch); user%19=3 → all-zero weights (total_w<=0 branch, with
    per-row-unique algorithms so the top pick is deterministic — capped at
    6 rows since algorithm = ALGORITHMS[rn] and the list has 6 entries; an
    uncapped rn=7 indexed past the end, which ANSI Spark raises on while
    DuckDB's list_extract silently NULLs — a latent cross-engine divergence
    that only corpora big enough to produce 7 events for a user in BOTH
    planted residue classes could expose, found by the round-6 sf2
    value-level gate); user%11=5 → exact collinear point sets; user%7=2 →
    one accuracy=500 MAD outlier."""
    algo_idx = (
        "CASE WHEN user_id % 19 = 3 THEN rn ELSE ((event_id + user_id) % 6) + 1 END"
    )
    k_expr = (
        "CASE WHEN user_id % 13 = 1 THEN 1 "
        "WHEN user_id % 19 = 3 THEN LEAST(3 + user_id % 5, 6) "
        "ELSE 3 + user_id % 5 END"
    )
    return f"""
  SELECT CAST(user_id AS BIGINT) AS request_id,
    {_pick(d, ALGORITHMS, algo_idx)} AS algorithm,
    CAST(CASE WHEN user_id % 19 = 3 THEN 0.0
         ELSE 0.2 + ((event_id * 7 + user_id) % 10) * 0.1 END AS DOUBLE) AS weight,
    CAST(40.0 + (user_id % 50) * 0.01 + ((event_id % 13) - 6) * 0.003 AS DOUBLE) AS latitude,
    CAST(CASE WHEN user_id % 11 = 5
         THEN -74.0 + ((user_id * 7) % 50) * 0.01 + ((event_id % 13) - 6) * 0.006
         ELSE -74.0 + ((user_id * 7) % 50) * 0.01 + (((event_id * 5) % 11) - 5) * 0.003
         END AS DOUBLE) AS longitude,
    CAST((event_id % 30) * 1.0 AS DOUBLE) AS altitude,
    CAST(CASE WHEN user_id % 7 = 2 AND rn = 1 THEN 500.0
         ELSE 5.0 + ((event_id * 3) % 47) END AS DOUBLE) AS accuracy,
    CAST(0.5 + (event_id % 5) * 0.1 AS DOUBLE) AS confidence
  FROM (
    SELECT user_id, rn, CAST({_obs_seed()} AS BIGINT) AS event_id
    FROM ({users_cte(d, k_expr)}) base
  ) numbered
"""


def combiner_robust_fn(spark, sf_dir):
    """Reference combiner (combiner.combine_positions, the Column-DSL
    formulation) over the derived positions; output rounded with the shared
    FLOOR form.

    WeightedAveragePositionCombiner.java:105-461 semantics; SURVEY §2.5
    'Weighted position combine' — previously driver-unchecked."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.positioning.combiner import combine_positions

    pos = spark.sql(_fold(spark, sf_dir, f"SELECT * FROM ({combiner_positions_sql(SPARK)})"))
    out = combine_positions(pos)
    return out.select(
        "request_id",
        F.expr(_r("latitude", 6)).alias("latitude"),
        F.expr(_r("longitude", 6)).alias("longitude"),
        F.expr(_r("altitude", 4)).alias("altitude"),
        F.expr(_r("accuracy", 2)).alias("accuracy"),
        F.expr(_r("confidence", 4)).alias("confidence"),
        F.array_join("methods_used", ",").alias("methods_used"),
        "is_collinear",
    )


def combiner_robust_oracle() -> str:
    return f"""
WITH posrel AS MATERIALIZED ({combiner_positions_sql(DUCK)})
{combiner_oracle_sql('posrel')}
"""


# ---------------------------------------------------------------------------
# ensemble_closed_form: ≤2-AP requests through the REAL one-pass ensemble
# ---------------------------------------------------------------------------


def ecf_obs_sql(d: str) -> str:
    """(user_id, ap_id, rssi) observations, ≤2 distinct APs per request.

    ap_id alternates between user_id%50 and (user_id+1)%50 by event parity, so
    a request never sees more than two distinct APs — trilateration and MLE
    carry base weight 0 there and the ensemble stays closed-form. Planted:
    user%31=7 → one out-of-range RSSI (-25, physics gate drops the request);
    user%23=0 → all scans below -95 (very-weak proximity-only override).
    All RSSI values are integer-valued → exact sums in both engines."""
    return f"""
  SELECT user_id,
    CAST((user_id + event_id % 2) % 50 AS BIGINT) AS ap_id,
    CAST(CASE WHEN user_id % 31 = 7 AND rn = 1 THEN -25.0
              WHEN user_id % 23 = 0 THEN -96.0 - (event_id % 4)
              ELSE -45.0 - ((event_id * 3 + user_id * 5) % 40) END AS DOUBLE) AS rssi
  FROM (
    SELECT user_id, rn, CAST({_obs_seed()} AS BIGINT) AS event_id
    FROM ({users_cte(d, "1 + user_id % 4")}) base
  ) numbered
"""


def ecf_aps_sql(d: str) -> str:
    """50-AP dimension: md5-derived mac, varied altitude/accuracy/confidence,
    vendor cycle with a NULL arm (default path-loss + no-vendor confidence
    branch), frequency by parity (2.4 GHz vs 5 GHz reference RSSI)."""
    strtype = "STRING" if d == SPARK else "VARCHAR"
    gen = (
        "SELECT explode(sequence(0, 49)) AS ap_id"
        if d == SPARK
        else "SELECT unnest(generate_series(0, 49)) AS ap_id"
    )
    return f"""
  SELECT ap_id,
    LOWER(CONCAT_WS(':', SUBSTRING(h, 1, 2), SUBSTRING(h, 3, 2), SUBSTRING(h, 5, 2),
                    SUBSTRING(h, 7, 2), SUBSTRING(h, 9, 2), SUBSTRING(h, 11, 2))) AS mac,
    CAST(40.0 + ap_id * 0.01 AS DOUBLE) AS lat,
    CAST(-74.0 + ((ap_id * 7) % 50) * 0.01 AS DOUBLE) AS lon,
    CAST(5.0 + ap_id AS DOUBLE) AS alt,
    CAST(8.0 + ap_id % 5 AS DOUBLE) AS hacc,
    CAST(0.6 + (ap_id % 4) * 0.1 AS DOUBLE) AS conf,
    CASE CAST(ap_id % 4 AS BIGINT)
      WHEN 0 THEN 'cisco' WHEN 1 THEN 'aruba' WHEN 2 THEN 'ubiquiti' END AS vendor,
    CAST(CASE WHEN ap_id % 2 = 0 THEN 2437 ELSE 5180 END AS INT) AS frequency
  FROM (SELECT ap_id, MD5(CAST(ap_id AS {strtype})) AS h FROM ({gen}) g) hm
"""


def _in_layout(df, schema):
    """``df`` projected onto ``schema``: its columns in order, cast to their
    types, NULL where ``df`` has no such column."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            (F.col(f.name) if f.name in df.columns else F.lit(None)).cast(f.dataType).alias(f.name)
            for f in schema
        ]
    )


def nested_requests(obs):
    """Registry observation rows (request_id, mac_addr, signal_strength,
    frequency) → positioning requests in the ``POSITIONING_REQUEST_SCHEMA``
    layout, the one input ``position_requests_onepass`` takes: one row per
    request_id, its scans collected into ``wifiScanResults``."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.schemas import (
        POSITIONING_REQUEST_SCHEMA,
        WIFI_SCAN_RESULT_SCHEMA,
    )

    # positional cast: the three observation fields, then ssid, linkSpeed
    # and channelWidth unset
    scan = F.struct(
        "mac_addr", "signal_strength", "frequency", F.lit(None), F.lit(None), F.lit(None)
    ).cast(WIFI_SCAN_RESULT_SCHEMA)
    # the kernel runs in the nest's partitions: half the cores' worth of
    # them, since each kernel task carries a fixed Python cost (at sf0.1 on
    # 4 cores, 2 partitions answer in half the time of the default 8)
    n_parts = max(2, obs.sparkSession.sparkContext.defaultParallelism // 2)
    requests = (
        obs.repartition(n_parts, "request_id")
        .groupBy(F.col("request_id").alias("requestId"))
        .agg(F.collect_list(scan).alias("wifiScanResults"))
    )
    return _in_layout(requests, POSITIONING_REQUEST_SCHEMA)


def ap_dimension(apdim):
    """``ecf_aps_sql`` rows → active APs in the ``WIFI_ACCESS_POINTS_SCHEMA``
    layout."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.schemas import WIFI_ACCESS_POINTS_SCHEMA

    aps = apdim.select(
        F.col("mac").alias("mac_addr"),
        F.col("lat").alias("latitude"),
        F.col("lon").alias("longitude"),
        F.col("alt").alias("altitude"),
        F.col("hacc").alias("horizontal_accuracy"),
        F.col("conf").alias("confidence"),
        "frequency",
        "vendor",
        F.lit("active").alias("status"),
    )
    return _in_layout(aps, WIFI_ACCESS_POINTS_SCHEMA)


def ensemble_closed_fn(spark, sf_dir):
    """REAL one-pass ensemble (positioning.onepass.position_requests_onepass):
    physics gate → AP index join → kernel-side pack → context classes →
    selection matrix → proximity/WCL/log-distance/RSSI-ratio → robust
    combiner (PositioningServiceImpl.java:168-190; SELECTION.md; SURVEY
    §2.7/§3.2), on requests restricted to ≤2 APs so the path is fully
    closed-form and DuckDB-checkable: trilateration and MLE carry base
    weight 0 at SINGLE_AP / TWO_APS, and a numeric method in an answer
    would fail the value compare."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.positioning.onepass import position_requests_onepass

    obs = spark.sql(_fold(spark, sf_dir, f"SELECT * FROM ({ecf_obs_sql(SPARK)}) o"))
    apdim = spark.sql(_fold(spark, sf_dir, f"SELECT * FROM ({ecf_aps_sql(SPARK)}) a"))
    # each scan reports its AP's frequency
    scans = obs.join(F.broadcast(apdim.select("ap_id", "mac", "frequency")), "ap_id").select(
        F.col("user_id").cast("string").alias("request_id"),
        F.col("mac").alias("mac_addr"),
        F.col("rssi").alias("signal_strength"),
        "frequency",
    )
    out = position_requests_onepass(nested_requests(scans), ap_dimension(apdim))
    return out.select(
        "request_id",
        F.expr(_r("latitude", 6)).alias("latitude"),
        F.expr(_r("longitude", 6)).alias("longitude"),
        F.expr(_r("altitude", 4)).alias("altitude"),
        F.expr(_r("accuracy", 2)).alias("accuracy"),
        F.expr(_r("confidence", 4)).alias("confidence"),
        F.array_join("methods_used", ",").alias("methods_used"),
        "is_collinear",
    )


def positioning_ensemble_fn(spark, sf_dir):
    """Full 6-algorithm ensemble over synthetic requests derived from events.

    Each user_id becomes one positioning request of 9..20 scans, so every
    selection tier occurs, the 4+-AP numeric tier included; the scanned APs
    are the ``ecf_aps_sql`` dimension. Runs the one-pass kernel end to end:
    physics gate → AP index join → context classification → selection
    matrix → closed-form algorithms and trilateration/MLE → robust combiner
    (SURVEY.md §2.7/§3.2). Iterative numerics are not SQL-expressible →
    rows-only driver check."""
    from pyspark.sql import functions as F

    from wifi_location_data_pipeline_spark.positioning.onepass import position_requests_onepass

    e = _obs_seed()
    # rssi range [-84, -45]: spread <= 39 stays under the 45 dB physics gate
    # (max rssi > -50 arms the check), every request passes
    obs = spark.sql(_fold(spark, sf_dir, f"""
        SELECT CAST(user_id AS STRING) AS request_id,
          CAST((user_id * 13 + {e}) % 50 AS BIGINT) AS ap_id,
          CAST(-45.0 - ({e} % 40) AS DOUBLE) AS signal_strength,
          2437 AS frequency
        FROM ({users_cte(SPARK, "9 + user_id % 12")}) base
        """))
    apdim = spark.sql(_fold(spark, sf_dir, f"SELECT * FROM ({ecf_aps_sql(SPARK)}) a"))
    scans = obs.join(F.broadcast(apdim.select("ap_id", F.col("mac").alias("mac_addr"))), "ap_id")
    out = position_requests_onepass(nested_requests(scans), ap_dimension(apdim))
    return out.select(
        "request_id",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        F.round("accuracy", 2).alias("accuracy"),
        F.round("confidence", 4).alias("confidence"),
        F.array_join("methods_used", ",").alias("methods_used"),
    )


def _w_product(algo: str) -> str:
    """base × signal × geometry × distribution CASE product — same literal
    order and CAST discipline as the engine's selection weight tables
    (positioning/selection.py, compiled in the onepass kernel)."""
    i = ALGORITHMS.index(algo)

    def case(col: str, table: dict[str, tuple[float, ...]]) -> str:
        whens = " ".join(
            f"WHEN '{k}' THEN CAST({float(m[i])} AS DOUBLE)" for k, m in table.items()
        )
        return f"CASE {col} {whens} END"

    return " * ".join(
        [
            f"({case('apc', BASE_WEIGHTS)})",
            f"({case('sq', SIGNAL_MULT)})",
            f"({case('geo', GEOMETRY_MULT)})",
            f"({case('sdist', DISTRIBUTION_MULT)})",
        ]
    )


def ensemble_closed_oracle() -> str:
    vendor_n = """CASE LOWER(TRIM(vendor))
        WHEN 'cisco' THEN 3.0 WHEN 'aruba' THEN 2.8 WHEN 'meraki' THEN 3.0
        WHEN 'ubiquiti' THEN 2.7 WHEN 'ruckus' THEN 2.9 WHEN 'hpe-aruba' THEN 2.8
        ELSE 3.0 END"""
    n_adj = f"""CASE
        WHEN rssi >= -50.0 THEN ({vendor_n}) - LEAST(1.0, (rssi + 50.0) / 5.0)
        WHEN rssi <= -80.0 THEN ({vendor_n}) + LEAST(1.5, (-80.0 - rssi) / 5.0)
        ELSE ({vendor_n}) END"""
    nn = f"GREATEST(2.0, LEAST(5.0, {n_adj}))"
    ref = """CASE WHEN frequency >= 5000 THEN -45.0
        WHEN frequency >= 2400 THEN -40.0 ELSE -43.0 END"""
    sigma = """CASE WHEN rssi >= -50.0 THEN 2.0
        WHEN rssi <= -80.0 THEN 5.0 ELSE 3.5 END"""
    dist = f"POWER(10.0, (({ref}) - rssi) / (10.0 * ({nn}))) * (1.0 + ({sigma}) / 10.0)"
    wclw = "POWER(10.0, GREATEST(0.0, LEAST(1.0, (rssi + 30.0) / (-70.0))))"
    cw = """GREATEST(0.6, LEAST(1.0,
        (1.0 / (1.0 + EXP(-4.0 * ((rssi + 100.0) / 70.0 - 0.5))))
        * GREATEST(0.7, COALESCE(conf, 0.85))
        * CASE WHEN vendor IS NOT NULL THEN 1.2 ELSE 0.85 END))"""
    sfac = "GREATEST(1.0, LEAST(3.0, (-(st.avg_s) - 50.0) / 10.0))"
    return f"""
WITH eobs AS MATERIALIZED ({ecf_obs_sql(DUCK)}),
apsdim AS MATERIALIZED ({ecf_aps_sql(DUCK)}),
gated AS MATERIALIZED (
  SELECT e.user_id, e.rssi, a.mac, a.lat, a.lon, a.alt, a.hacc, a.conf,
         a.vendor, a.frequency
  FROM eobs e JOIN apsdim a USING (ap_id)
  WHERE e.user_id NOT IN (
    SELECT DISTINCT user_id FROM eobs WHERE rssi > -30.0 OR rssi < -100.0)
),
st AS (
  SELECT user_id,
    COUNT(*) AS n_scans,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    SUM(rssi) / CAST(COUNT(*) AS DOUBLE) AS avg_s,
    CASE WHEN COUNT(*) > 1 THEN SQRT(GREATEST(0.0,
      (SUM(rssi * rssi) - CAST(COUNT(*) AS DOUBLE)
        * (SUM(rssi) / CAST(COUNT(*) AS DOUBLE))
        * (SUM(rssi) / CAST(COUNT(*) AS DOUBLE)))
      / (CAST(COUNT(*) AS DOUBLE) - 1.0))) ELSE 0.0 END AS sd,
    MAX(rssi) AS s_max,
    SUM(LEAST(1.0, GREATEST(0.0, (rssi + 95.0) / 45.0))) AS sq_sum,
    SUM(hacc) / CAST(COUNT(*) AS DOUBLE) AS avg_acc,
    COUNT(DISTINCT mac) AS n_aps
  FROM gated GROUP BY user_id
),
best AS (
  SELECT user_id, lat AS blat, lon AS blon, alt AS balt, hacc AS bhacc,
         rssi AS brssi
  FROM (SELECT g.*, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY rssi DESC, mac DESC) AS br FROM gated g) z
  WHERE br = 1
),
extrow AS (
  SELECT user_id, lat, lon, alt,
    {dist} AS dd,
    1.0 / GREATEST(1.0, {dist}) AS iw,
    {wclw} AS w,
    {cw} AS cwv
  FROM gated
),
ext AS (
  SELECT user_id,
    SUM(w) AS sw, SUM(lat * w) AS swlat, SUM(lon * w) AS swlon,
    SUM(alt * w) AS swaltn, SUM(w) AS swaltd,
    SUM(iw) AS siw, SUM(lat * iw) AS silat, SUM(lon * iw) AS silon,
    SUM(alt * iw) AS sialtn, SUM(iw) AS sialtd,
    MIN(dd) AS mind, MAX(dd) AS maxd,
    SUM(cwv) AS scw
  FROM extrow GROUP BY user_id
),
pr AS (
  SELECT user_id,
    SUM(pw) AS spw, SUM(plat * pw) AS splat, SUM(plon * pw) AS splon,
    SUM(palt * pw) AS saltn, SUM(pw) AS saltd, COUNT(*) AS n_pairs
  FROM (
    SELECT q.user_id,
      ABS(q.ra - q.rb) / 30.0 AS pw,
      (q.la + q.ratio * q.lb) / (1.0 + q.ratio) AS plat,
      (q.lo + q.ratio * q.lb2) / (1.0 + q.ratio) AS plon,
      (q.aa + q.ratio * q.ab) / (1.0 + q.ratio) AS palt
    FROM (
      SELECT a.user_id, a.rssi AS ra, b.rssi AS rb,
        a.lat AS la, b.lat AS lb, a.lon AS lo, b.lon AS lb2,
        a.alt AS aa, b.alt AS ab,
        POWER(10.0, (a.rssi - b.rssi) / 20.0) AS ratio
      FROM gated a JOIN gated b
        ON a.user_id = b.user_id AND a.mac < b.mac
    ) q
  ) p GROUP BY user_id
),
ctx AS (
  SELECT st.*,
    CASE WHEN avg_s > -70.0 THEN 'STRONG_SIGNAL'
         WHEN avg_s > -85.0 THEN 'MEDIUM_SIGNAL'
         WHEN avg_s > -95.0 THEN 'WEAK_SIGNAL'
         ELSE 'VERY_WEAK_SIGNAL' END AS sq,
    CASE WHEN sd > 10.0 THEN 'SIGNAL_OUTLIERS'
         WHEN sd > 3.0 THEN 'MIXED_SIGNALS'
         ELSE 'UNIFORM_SIGNALS' END AS sdist,
    CASE WHEN n_aps = 1 THEN 'SINGLE_AP' ELSE 'TWO_APS' END AS apc,
    'POOR_GDOP' AS geo,
    (s_max < -95.0) AS all_weak
  FROM st
),
aw AS (
  SELECT user_id, 'proximity' AS algorithm, ({_w_product('proximity')}) AS w,
         sq, all_weak FROM ctx
  UNION ALL
  SELECT user_id, 'rssi_ratio', ({_w_product('rssi_ratio')}), sq, all_weak FROM ctx
  UNION ALL
  SELECT user_id, 'weighted_centroid', ({_w_product('weighted_centroid')}),
         sq, all_weak FROM ctx
  UNION ALL
  SELECT user_id, 'log_distance', ({_w_product('log_distance')}), sq, all_weak FROM ctx
),
sel AS (
  SELECT user_id, algorithm, w FROM (
    SELECT user_id, algorithm, w,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY w DESC, algorithm ASC) AS rk,
      MAX(w) OVER (PARTITION BY user_id) AS maxw
    FROM aw WHERE w > 0.0 AND NOT (all_weak OR sq = 'VERY_WEAK_SIGNAL')
  ) z
  WHERE (w >= 0.4 AND rk <= CASE WHEN maxw > 0.8 THEN 2 ELSE 3 END) OR rk = 1
  UNION ALL
  SELECT c.user_id, 'proximity' AS algorithm, GREATEST(a.w, 0.5) AS w
  FROM ctx c JOIN aw a ON a.user_id = c.user_id AND a.algorithm = 'proximity'
  WHERE c.all_weak OR c.sq = 'VERY_WEAK_SIGNAL'
),
allpos AS (
  SELECT b.user_id, 'proximity' AS algorithm,
    b.blat AS latitude, b.blon AS longitude,
    COALESCE(b.balt, 0.0) AS altitude,
    COALESCE(b.bhacc, 50.0) AS accuracy,
    GREATEST(0.0, LEAST(0.85, (b.brssi + 90.0) / 60.0)) AS confidence
  FROM best b
  UNION ALL
  SELECT e.user_id, 'weighted_centroid',
    e.swlat / e.sw, e.swlon / e.sw,
    COALESCE(CASE WHEN e.swaltd > 0.0 THEN e.swaltn / e.swaltd END, 0.0),
    COALESCE(st.avg_acc, 15.0),
    LEAST(0.8, (st.nd / GREATEST(st.nd, 1.0)) * 0.7)
  FROM ext e JOIN st USING (user_id)
  UNION ALL
  SELECT e.user_id, 'log_distance',
    e.silat / e.siw, e.silon / e.siw,
    COALESCE(CASE WHEN e.sialtd > 0.0 THEN e.sialtn / e.sialtd END, 0.0),
    CASE WHEN st.avg_s >= -50.0 THEN e.mind * 0.5
         WHEN st.avg_s <= -80.0 THEN e.maxd * 3.0
         ELSE (e.mind + e.maxd) / 2.0
              * (3.0 - ((st.avg_s + 80.0) / 30.0) * 2.5) END,
    LEAST(0.85, e.scw / st.nd)
  FROM ext e JOIN st USING (user_id)
  UNION ALL
  SELECT p.user_id, 'rssi_ratio',
    p.splat / p.spw, p.splon / p.spw,
    COALESCE(CASE WHEN p.saltd > 0.0 THEN p.saltn / p.saltd END, 0.0),
    COALESCE(st.avg_acc, 15.0) * ({sfac}),
    CASE WHEN st.avg_s >= -70.0
         THEN GREATEST(0.7, LEAST(0.85,
           LEAST(0.85, p.spw / (st.nd * (st.nd - 1.0) / 2.0)) + st.sq_sum / st.nd))
         ELSE LEAST(0.85,
           LEAST(0.85, p.spw / (st.nd * (st.nd - 1.0) / 2.0)) + st.sq_sum / st.nd) END
  FROM pr p JOIN st USING (user_id)
  WHERE st.n_scans >= 2 AND p.n_pairs > 0 AND p.spw > 0.0
),
posx AS MATERIALIZED (
  SELECT CAST(s.user_id AS VARCHAR) AS request_id, s.algorithm, s.w AS weight,
    p.latitude, p.longitude, p.altitude, p.accuracy, p.confidence
  FROM sel s JOIN allpos p
    ON p.user_id = s.user_id AND p.algorithm = s.algorithm
  WHERE s.w > 0.0
)
{combiner_oracle_sql('posx')}
"""


from wifi_location_data_pipeline_spark.plans.queries import register  # noqa: E402

register(
    "positioning_ensemble",
    "Full positioning ensemble through the one-pass kernel: physics gate, "
    "AP index join, context classification, selection matrix, 6 algorithms "
    "(closed-form and trilateration/MLE), robust combiner (SURVEY §2.7, §3.2).",
    spark_fn=positioning_ensemble_fn,
)

register(
    "ensemble_closed_form",
    "Flagship one-pass positioning ensemble on ≤2-AP requests (closed-form "
    "selection only): physics gate, AP index join, kernel-side pack, "
    "context classification, selection matrix, "
    "proximity/WCL/log-distance/RSSI-ratio, robust combiner — the REAL "
    "position_requests_onepass path under a value-level DuckDB oracle "
    "(PositioningServiceImpl.java:168-190; AlgorithmSelector.java:67-120; "
    "SURVEY §2.7/§3.2).",
    sql=lambda d: ensemble_closed_oracle(),
    spark_fn=ensemble_closed_fn,
    # the reference compiles this dataflow once at Spring startup and serves
    # every request from it (PositioningServiceImpl is a singleton bean);
    # plan reuse across invocations is the honest equivalent
    service=True,
)

register(
    "position_combiner_robust",
    "Robust weighted position combiner, reference Column-DSL formulation "
    "(combiner.combine_positions): normalized weighted means, exact "
    "median/25%-trimmed accuracy blend, 2-MAD outlier inflation, covariance "
    "condition number, collinearity cap, single-position and zero-weight "
    "fallbacks (WeightedAveragePositionCombiner.java:105-461; "
    "GDOPCalculator.java:650-731; SURVEY §2.5). Oracle is an independent "
    "row-wise SQL formulation; parity and property tests tie the production "
    "kernel combiner to this reference.",
    sql=lambda d: combiner_robust_oracle(),
    spark_fn=combiner_robust_fn,
)


# ---------------------------------------------------------------------------
# selection_reasons: selectAlgorithmsWithReasons over every factor combination
# ---------------------------------------------------------------------------


def selreason_ctx_sql(d: str) -> str:
    """480 contexts covering EVERY (ap x signal x geometry x distribution x
    all_very_weak) combination, keyed by event_id (0..479 exists at every
    SF)."""
    intdiv = (lambda a, b: f"({a} DIV {b})") if d == SPARK else (lambda a, b: f"({a} // {b})")
    e = "event_id"
    return f"""
  SELECT CAST(event_id AS BIGINT) AS request_id,
    {_pick(d, _APC, f"{e} % 4 + 1")} AS ap_count_class,
    {_pick(d, _SQ, f"{intdiv(e, 4)} % 4 + 1")} AS signal_quality,
    {_pick(d, _GQ, f"{intdiv(e, 16)} % 5 + 1")} AS geometric_quality,
    {_pick(d, _SD, f"{intdiv(e, 80)} % 3 + 1")} AS signal_distribution,
    ({intdiv(e, 240)} % 2) = 1 AS all_very_weak
  FROM events WHERE event_id < 480
"""


def selection_reasons_fn(spark, sf_dir):
    """The product's selection table (``onepass_kernel.selection_table``,
    the rows each positioning answer's selection and ``selection_info`` are
    read from) over the full combinatorial context grid: one row per
    (context, algorithm), reasons joined to one string for the value
    compare (AlgorithmSelector.java:308-330; SURVEY §2.7)."""
    from wifi_location_data_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    ctx = spark.sql(_fold(spark, sf_dir, f"SELECT * FROM ({selreason_ctx_sql(SPARK)}) c"))
    return ctx.mapInArrow(
        _context_reasons,
        "request_id bigint, algorithm string, selected boolean, weight double, reasons string",
    )


def _context_reasons(batches):
    """mapInArrow body: each context row → its ``selection_info`` entries
    in the selection table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from wifi_location_data_pipeline_spark.positioning.onepass_kernel import (
        CONTEXT_FIELDS,
        _context_code,
        selection_table,
    )

    info = selection_table().selection_info
    for b in batches:
        codes = [pc.index_in(b.column(f), value_set=pa.array(t)).to_numpy()
                 for f, t in zip(CONTEXT_FIELDS, (_APC, _SQ, _GQ, _SD))]
        avw = b.column("all_very_weak").to_numpy(zero_copy_only=False)
        lists = info.take(_context_code(*codes, avw))
        e = lists.flatten()
        yield pa.RecordBatch.from_arrays(
            [pc.take(b.column("request_id"), pc.list_parent_indices(lists)),
             e.field("algorithm"), e.field("selected"), e.field("weight"),
             pc.binary_join(e.field("reasons"), " | ")],
            names=["request_id", "algorithm", "selected", "weight", "reasons"],
        )


def _factor_case(col: str, table: dict, algo_idx: int) -> str:
    """CASE <class-col> ... CASE algorithm ... multiplier AS DOUBLE (duck)."""
    whens = " ".join(
        f"WHEN '{klass}' THEN CAST({float(m[algo_idx])} AS DOUBLE)"
        for klass, m in table.items()
    )
    return f"CASE {col} {whens} END"


def _j2f(expr: str) -> str:
    """Java-semantics %.2f for DuckDB: java.util.Formatter rounds the
    double's SHORTEST decimal representation HALF_UP (0.3*0.5*0.7 prints
    '0.11' because its shortest repr is 0.105), while C/fmt printf
    correctly rounds the exact binary value ('0.10'). Reproduce Java:
    shortest repr via VARCHAR cast, exact reparse as DECIMAL, half-up
    ROUND to 2 places, then format."""
    return (
        f"printf('%.2f', CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) "
        f"AS DECIMAL(30,20)), 2) AS DOUBLE))"
    )


def selection_reasons_oracle() -> str:
    """Row-wise DuckDB oracle of the selection table's rules
    (``onepass_kernel.selection_table``): the three selection phases with
    the reason strings of AlgorithmSelector.java:35-48,273-294,343-490, the
    rank-1 fallback, the 0.5 floor on a very weak context's proximity
    weight, and no POOR_GDOP disqualification (SURVEY §2.7 lists collinear
    → −trilateration only). Weight products multiply in the same left-assoc
    order as the kernel's NumPy product, so the doubles are bit-identical,
    and ``_j2f`` reproduces Java's %.2f digits exactly."""
    algos = ", ".join(
        f"('{a}', {i})" for i, a in enumerate(ALGORITHMS)
    )
    base = "CASE algorithm " + " ".join(
        f"WHEN '{a}' THEN {_factor_case('ap_count_class', BASE_WEIGHTS, i)}"
        for i, a in enumerate(ALGORITHMS)
    ) + " END"
    sig = "CASE algorithm " + " ".join(
        f"WHEN '{a}' THEN {_factor_case('signal_quality', SIGNAL_MULT, i)}"
        for i, a in enumerate(ALGORITHMS)
    ) + " END"
    geo = "CASE algorithm " + " ".join(
        f"WHEN '{a}' THEN {_factor_case('geometric_quality', GEOMETRY_MULT, i)}"
        for i, a in enumerate(ALGORITHMS)
    ) + " END"
    dist = "CASE algorithm " + " ".join(
        f"WHEN '{a}' THEN {_factor_case('signal_distribution', DISTRIBUTION_MULT, i)}"
        for i, a in enumerate(ALGORITHMS)
    ) + " END"
    wprod = f"((({base}) * ({sig})) * ({geo})) * ({dist})"
    wcalc_expr = (
        "'Weight=' || " + _j2f("weight")
        + " || CASE WHEN weight > w THEN ', floored from ' || " + _j2f("w")
        + " ELSE '' END"
        + " || ': base(' || " + _j2f(base)
        + " || ') × signal(' || " + _j2f(sig)
        + " || ') × geometric(' || " + _j2f(geo)
        + " || ') × distribution(' || " + _j2f(dist)
        + " || ')'"
    )
    thr = _j2f("CAST(0.4 AS DOUBLE)")
    return f"""
WITH ctx AS MATERIALIZED ({selreason_ctx_sql(DUCK)}),
crossed AS (
  SELECT c.*, a.algorithm
  FROM ctx c CROSS JOIN (VALUES {algos}) a(algorithm, ai)
),
p1 AS (
  SELECT *,
    (all_very_weak OR signal_quality = 'VERY_WEAK_SIGNAL') AS vweak,
    CASE ap_count_class
      WHEN 'SINGLE_AP' THEN algorithm IN ('proximity', 'log_distance')
      WHEN 'TWO_APS' THEN algorithm NOT IN ('trilateration', 'maximum_likelihood')
      WHEN 'THREE_APS' THEN algorithm <> 'maximum_likelihood'
      ELSE TRUE END AS apc_elig,
    CASE ap_count_class
      WHEN 'SINGLE_AP' THEN
        CASE WHEN algorithm = 'proximity' THEN 'Valid for single AP'
             WHEN algorithm = 'log_distance' THEN 'Valid for single AP with path loss model'
             ELSE 'DISQUALIFIED (insufficient APs)' END
      WHEN 'TWO_APS' THEN
        CASE WHEN algorithm = 'trilateration' THEN 'DISQUALIFIED (requires at least 3 APs)'
             WHEN algorithm = 'maximum_likelihood' THEN 'DISQUALIFIED (requires at least 4 APS)'
             ELSE 'Valid for two APs' END
      WHEN 'THREE_APS' THEN
        CASE WHEN algorithm = 'maximum_likelihood' THEN 'DISQUALIFIED (requires at least 4 APS)'
             ELSE 'Valid for three APs' END
      ELSE 'Valid for 4+ APs' END AS r_apc,
    geometric_quality = 'COLLINEAR' AND algorithm = 'trilateration' AS geo_bad,
    CASE WHEN NOT vweak AND geo_bad AND apc_elig
         THEN 'DISQUALIFIED (collinear APs)' END AS r_geo,
    CASE WHEN vweak THEN algorithm = 'proximity'
         ELSE apc_elig AND NOT geo_bad END AS eligible,
    CASE WHEN vweak THEN
      CASE WHEN algorithm = 'proximity'
           THEN 'Only viable algorithm for extremely weak signals'
           ELSE 'DISQUALIFIED (signal too weak)' END
      ELSE r_apc END AS r1
  FROM crossed
),
p2 AS (
  SELECT *, CASE WHEN eligible THEN {wprod} END AS w FROM p1
),
p3 AS (
  SELECT *,
    CASE WHEN eligible AND vweak THEN GREATEST(w, CAST(0.5 AS DOUBLE)) ELSE w END AS weight
  FROM p2
),
p4 AS (
  SELECT *,
    {wcalc_expr} AS wcalc,
    eligible AND weight >= CAST(0.4 AS DOUBLE) AS above,
    ROW_NUMBER() OVER (PARTITION BY request_id
      ORDER BY weight DESC NULLS LAST, algorithm) AS rn,
    MAX(weight) OVER (PARTITION BY request_id) AS max_w
  FROM p3
),
p5 AS (
  SELECT *,
    (above AND rn <= CASE WHEN max_w > CAST(0.8 AS DOUBLE) THEN 2 ELSE 3 END)
      OR (eligible AND rn = 1) AS sel
  FROM p4
),
p6 AS (
  SELECT *,
    CASE
      WHEN sel AND above THEN 'SELECTED. Weight Calculation: ' || wcalc
      WHEN sel THEN
        'SELECTED (best algorithm, below threshold ' || {thr} || '). Weight Calculation: ' || wcalc
      WHEN eligible AND NOT above THEN
        'DISQUALIFIED  (below threshold ' || {thr} || ') . Weight Calculation: ' || wcalc
      WHEN eligible THEN
        CASE WHEN max_w > CAST(0.8 AS DOUBLE)
             THEN 'DISQUALIFIED (not in top 2 High Confidence). Weight Calculation: ' || wcalc
             ELSE 'DISQUALIFIED (not in top 3 below High Confidence). Weight Calculation: ' || wcalc END
    END AS r3
  FROM p5
)
SELECT request_id, algorithm, sel AS selected, weight,
  concat_ws(' | ', r1, r_geo, r3) AS reasons
FROM p6
"""


register(
    "selection_reasons",
    "Reason-annotated algorithm selection (selectAlgorithmsWithReasons) "
    "over all 480 factor combinations: Spark reads the product's one "
    "selection table (onepass_kernel.selection_table), whose rows also "
    "give each positioning answer its algorithms. Hard constraints, weight "
    "formula strings, threshold/top-N discard reasons and SELECTED "
    "annotations in the reference's strings, under SURVEY §2.7's rules plus "
    "the engine's rank-1 fallback and very-weak 0.5 floor "
    "(AlgorithmSelector.java:35-48,273-294,308-330,343-490).",
    sql=lambda d: selection_reasons_oracle(),
    spark_fn=selection_reasons_fn,
)
