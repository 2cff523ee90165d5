"""Algorithm selection framework: the weight matrix as CASE exprs.

Implements the three-phase selection of
wifi-positioning-service/documents/algorithm-selection-framework.md:13-85
(hard constraints → multiplicative weighting → threshold + adaptive top-K),
matching AlgorithmSelector.java:67-120,273-320,365-438.

The weight tables below (factor class → per-algorithm multiplier) are the
single source: ``select_algorithms`` (the multipass reference) compiles them
to CASE expressions, and the one-pass kernel indexes them as NumPy arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark import config as C

ALGORITHMS = (
    "proximity",
    "rssi_ratio",
    "weighted_centroid",
    "trilateration",
    "maximum_likelihood",
    "log_distance",
)

# Base weights by AP-count class (framework doc "Base Weights by AP Count")
BASE_WEIGHTS = {
    # class: (proximity, rssi_ratio, wcl, trilat, mle, log_distance)
    "SINGLE_AP": (1.0, 0.0, 0.0, 0.0, 0.0, 0.4),
    "TWO_APS": (0.4, 1.0, 0.8, 0.0, 0.0, 0.5),
    "THREE_APS": (0.3, 0.7, 0.8, 1.0, 0.0, 0.5),
    "FOUR_PLUS_APS": (0.2, 0.5, 0.7, 0.8, 1.0, 0.4),
}

# Signal-quality multipliers (framework doc "Signal Quality Adjustments")
SIGNAL_MULT = {
    "STRONG_SIGNAL": (0.9, 1.0, 1.0, 1.1, 1.2, 1.0),
    "MEDIUM_SIGNAL": (0.7, 0.9, 1.0, 0.8, 0.9, 0.8),
    "WEAK_SIGNAL": (0.4, 0.6, 0.8, 0.3, 0.5, 0.6),
    "VERY_WEAK_SIGNAL": (0.5, 0.0, 0.0, 0.0, 0.0, 0.0),
}

# Geometric-quality multipliers (framework doc "Geometric Quality Impact")
GEOMETRY_MULT = {
    "EXCELLENT_GDOP": (1.0, 1.0, 1.0, 1.3, 1.2, 1.0),
    "GOOD_GDOP": (1.0, 1.0, 1.1, 0.9, 1.1, 1.0),
    "FAIR_GDOP": (1.0, 0.9, 1.2, 0.6, 0.9, 0.8),
    "POOR_GDOP": (1.0, 0.8, 1.3, 0.3, 0.7, 0.7),
    "COLLINEAR": (1.0, 0.7, 1.4, 0.0, 0.5, 0.6),
}

# Signal-distribution multipliers (framework doc "Signal Distribution Adjustments")
DISTRIBUTION_MULT = {
    "UNIFORM_SIGNALS": (1.0, 1.2, 1.0, 1.1, 0.9, 1.1),
    "MIXED_SIGNALS": (0.7, 0.9, 1.2, 0.8, 1.3, 0.8),
    "SIGNAL_OUTLIERS": (0.9, 0.7, 1.4, 0.5, 1.2, 0.8),
}


def _multiplier_expr(table: dict[str, tuple[float, ...]], class_col: str):
    """Compile one factor table to a nested CASE expression.

    A constant decision table evaluated per row belongs in the projection, not
    in a join: the four broadcast hash joins this replaces each cost a
    broadcast exchange + job in every run of the plan, while the CASE chain
    folds into the surrounding select (codegen'd when the stage carries no
    lambda HOFs; interpreted-projection otherwise — either way, no join)."""
    expr = None
    for klass, mults in table.items():
        inner = None
        for algo, m in zip(ALGORITHMS, mults):
            branch = (F.col("algorithm") == algo, F.lit(float(m)))
            inner = F.when(*branch) if inner is None else inner.when(*branch)
        expr = (
            F.when(F.col(class_col) == klass, inner)
            if expr is None
            else expr.when(F.col(class_col) == klass, inner)
        )
    return expr


def select_algorithms(context: DataFrame) -> DataFrame:
    """Per-request eligible algorithms with final weights.

    Returns (request_id, algorithm, weight) for the finalists after:
    1. hard constraints (AP count, collinearity, all-very-weak),
    2. base × signal × geometry × distribution weighting,
    3. weight ≥ 0.4 threshold,
    4. adaptive top-K (top-2 if max > 0.8 else top-3).
    """
    # cross with the six algorithms via a literal array explode (no join),
    # then every factor multiplier is a CASE lookup in the same projection
    crossed = context.withColumn(
        "algorithm", F.explode(F.array(*[F.lit(a) for a in ALGORITHMS]))
    )
    weighted = crossed.withColumn(
        "weight",
        _multiplier_expr(BASE_WEIGHTS, "ap_count_class")
        * _multiplier_expr(SIGNAL_MULT, "signal_quality")
        * _multiplier_expr(GEOMETRY_MULT, "geometric_quality")
        * _multiplier_expr(DISTRIBUTION_MULT, "signal_distribution"),
    )

    # hard constraint short-circuit: very-weak scenarios select proximity ONLY,
    # bypassing the weight threshold (AlgorithmSelector.java:583-586, the
    # pre-computed VERY_WEAK_SIGNAL_ALGORITHMS set)
    very_weak = F.col("all_very_weak") | (F.col("signal_quality") == "VERY_WEAK_SIGNAL")
    weak_rows = weighted.filter(very_weak & (F.col("algorithm") == "proximity")).select(
        "request_id", "algorithm", F.greatest(F.col("weight"), F.lit(0.5)).alias("weight")
    )

    # normal path: AP-count / collinearity constraints are 0.0 multipliers in
    # the matrix; threshold at 0.4 then adaptive top-K
    # (framework doc §2-3; AlgorithmSelector.java:386-431)
    eligible = weighted.filter(~very_weak).filter(F.col("weight") > 0.0)
    w_req = Window.partitionBy("request_id")
    w_rank = w_req.orderBy(F.col("weight").desc(), F.col("algorithm"))
    ranked = (
        eligible.withColumn("_max_w", F.max("weight").over(w_req))
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn(
            "_k",
            F.when(F.col("_max_w") > C.SELECTION_STRONG_MAX_WEIGHT, C.SELECTION_TOP_K_STRONG)
            .otherwise(C.SELECTION_TOP_K_DEFAULT),
        )
    )
    # rn == 1 fallback: a request always keeps its best algorithm even when
    # every weight lands under the threshold (the service must answer)
    kept = ranked.filter(
        ((F.col("weight") >= C.SELECTION_MIN_WEIGHT) & (F.col("_rn") <= F.col("_k")))
        | (F.col("_rn") == 1)
    ).select("request_id", "algorithm", "weight")
    return kept.unionByName(weak_rows)


# ---------------------------------------------------------------------------
# Reason-annotated selection (AlgorithmSelector.selectAlgorithmsWithReasons)
# ---------------------------------------------------------------------------

# Exact reason strings from AlgorithmSelector.java:35-48
_R_INSUFFICIENT_APS = "DISQUALIFIED (insufficient APs)"
_R_COLLINEAR = "DISQUALIFIED (collinear APs)"
_R_POOR_GEOMETRY = "DISQUALIFIED (poor geometry)"
_R_SIGNAL_TOO_WEAK = "DISQUALIFIED (signal too weak)"
_R_SINGLE_AP = "Valid for single AP"
_R_SINGLE_AP_MODEL = "Valid for single AP with path loss model"
_R_TWO_APS = "Valid for two APs"
_R_THREE_APS = "Valid for three APs"
_R_FOUR_PLUS = "Valid for 4+ APs"
_R_TRILAT_3 = "DISQUALIFIED (requires at least 3 APs)"
_R_ML_4 = "DISQUALIFIED (requires at least 4 APS)"
_R_ONLY_WEAK = "Only viable algorithm for extremely weak signals"

# %.2f everywhere below: Java's Formatter (format_string) and DuckDB's printf
# can only disagree on exact decimal ties of the underlying binary double,
# and no product of the matrix constants lands on one (no dyadic x.xx5 is
# reachable), so the two engines format identically.
_WCALC_FMT = "Weight=%.2f: base(%.2f) × signal(%.2f) × geometric(%.2f) × distribution(%.2f)"


def select_algorithms_with_reasons(context: DataFrame) -> DataFrame:
    """Per-(request, algorithm) selection decision with human-readable reasons.

    Mirrors ``AlgorithmSelector.selectAlgorithmsWithReasons``
    (AlgorithmSelector.java:308-330) and its three phases exactly, emitting
    the reference's reason strings verbatim (java:35-48,477,490,566):

    1. hard constraints (java:583-640): per-AP-count eligibility (+ the
       single-AP/two-AP specific strings), VERY_WEAK short-circuit to
       proximity, trilateration removed outright for COLLINEAR/POOR_GDOP;
    2. weighting (java:273-294): base x signal x geometric x distribution,
       each eligible algorithm annotated with the full formula string;
    3. finalist selection (java:343-431): threshold 0.4 (a lone eligible
       algorithm passes at its own weight, java:438-442), then top-2 when
       max weight > 0.8, else top-3 only when more than 3 survive;
       discarded algorithms get the phase's DISQUALIFIED string, selected
       ones get "SELECTED. Weight Calculation: ...".

    Returns (request_id, algorithm, selected, weight, reasons array). Weight
    is NULL for phase-1-ineligible algorithms. Deviation from the reference
    (documented): its top-N sort is by weight only — ties are JVM-set-order
    nondeterministic — so this implementation breaks ties by algorithm name
    ascending to stay deterministic.

    The engine's production ``select_algorithms`` keeps a below-threshold
    rank-1 row so the service always answers; this diagnostic twin mirrors
    the reference's reason bookkeeping instead (a lone below-threshold
    algorithm passes via the java:438-442 threshold rule).
    """
    crossed = context.withColumn(
        "algorithm", F.explode(F.array(*[F.lit(a) for a in ALGORITHMS]))
    )

    very_weak = F.col("all_very_weak") | (F.col("signal_quality") == "VERY_WEAK_SIGNAL")
    is_prox = F.col("algorithm") == "proximity"
    apc = F.col("ap_count_class")

    # phase 1a: AP-count eligibility + reason (java:84-161)
    apcount_eligible = (
        F.when(apc == "SINGLE_AP", is_prox | (F.col("algorithm") == "log_distance"))
        .when(apc == "TWO_APS", ~F.col("algorithm").isin("trilateration", "maximum_likelihood"))
        .when(apc == "THREE_APS", F.col("algorithm") != "maximum_likelihood")
        .otherwise(F.lit(True))
    )
    apcount_reason = (
        F.when(
            apc == "SINGLE_AP",
            F.when(is_prox, _R_SINGLE_AP)
            .when(F.col("algorithm") == "log_distance", _R_SINGLE_AP_MODEL)
            .otherwise(_R_INSUFFICIENT_APS),
        )
        .when(
            apc == "TWO_APS",
            F.when(F.col("algorithm") == "trilateration", _R_TRILAT_3)
            .when(F.col("algorithm") == "maximum_likelihood", _R_ML_4)
            .otherwise(_R_TWO_APS),
        )
        .when(
            apc == "THREE_APS",
            F.when(F.col("algorithm") == "maximum_likelihood", _R_ML_4).otherwise(
                _R_THREE_APS
            ),
        )
        .otherwise(F.lit(_R_FOUR_PLUS))
    )

    # phase 1b: geometric constraint removes trilateration (java:610-627)
    geo_bad = F.col("geometric_quality").isin("COLLINEAR", "POOR_GDOP")
    geo_reason = F.when(
        geo_bad & (F.col("algorithm") == "trilateration") & apcount_eligible,
        F.when(F.col("geometric_quality") == "COLLINEAR", _R_COLLINEAR).otherwise(
            _R_POOR_GEOMETRY
        ),
    )

    phase1 = crossed.withColumn(
        "_eligible",
        F.when(very_weak, is_prox).otherwise(
            apcount_eligible & ~(geo_bad & (F.col("algorithm") == "trilateration"))
        ),
    ).withColumn(
        "_r1",
        F.when(
            very_weak,
            F.array(F.when(is_prox, F.lit(_R_ONLY_WEAK)).otherwise(_R_SIGNAL_TOO_WEAK)),
        ).otherwise(F.array_compact(F.array(apcount_reason, geo_reason))),
    )

    # phase 2: weights + formula string for eligible rows (java:273-294)
    b = _multiplier_expr(BASE_WEIGHTS, "ap_count_class")
    s = _multiplier_expr(SIGNAL_MULT, "signal_quality")
    g = _multiplier_expr(GEOMETRY_MULT, "geometric_quality")
    d = _multiplier_expr(DISTRIBUTION_MULT, "signal_distribution")
    w = b * s * g * d
    weighted = phase1.withColumn(
        "weight", F.when(F.col("_eligible"), w)
    ).withColumn(
        "_wcalc",
        F.when(F.col("_eligible"), F.format_string(_WCALC_FMT, w, b, s, g, d)),
    )

    # phase 3: threshold (lone algorithm passes at its own weight,
    # java:438-442), then adaptive top-N over the survivors (java:386-431)
    w_req = Window.partitionBy("request_id")
    n_eligible = F.sum(F.col("_eligible").cast("int")).over(w_req)
    threshold = F.when(n_eligible == 1, F.col("weight")).otherwise(
        F.lit(C.SELECTION_MIN_WEIGHT)
    )
    t2 = weighted.withColumn("_thr", threshold).withColumn(
        "_above", F.col("_eligible") & (F.col("weight") >= F.col("_thr"))
    )
    w_surv = Window.partitionBy("request_id").orderBy(
        F.when(F.col("_above"), F.col("weight")).desc_nulls_last(), F.col("algorithm")
    )
    t3 = (
        t2.withColumn("_rn", F.row_number().over(w_surv))
        .withColumn(
            "_max_w", F.max(F.when(F.col("_above"), F.col("weight"))).over(w_req)
        )
        .withColumn("_n_surv", F.sum(F.col("_above").cast("int")).over(w_req))
        .withColumn(
            "_keep_n",
            F.when(F.col("_max_w") > C.SELECTION_STRONG_MAX_WEIGHT, F.lit(2))
            .when(F.col("_n_surv") > 3, F.lit(3))
            .otherwise(F.col("_n_surv")),
        )
    )
    selected = F.col("_above") & (F.col("_rn") <= F.col("_keep_n"))
    topn_reason = F.when(
        F.col("_max_w") > C.SELECTION_STRONG_MAX_WEIGHT,
        F.format_string(
            "DISQUALIFIED (not in top 2 High Confidence). Weight Calculation: %s",
            F.col("_wcalc"),
        ),
    ).otherwise(
        F.format_string(
            "DISQUALIFIED (not in top 3 below High Confidence). Weight Calculation: %s",
            F.col("_wcalc"),
        )
    )
    phase3_reason = F.when(
        F.col("_eligible") & ~F.col("_above"),
        # java:477 — the double space and spaced period are verbatim
        F.format_string(
            "DISQUALIFIED  (below threshold %.2f) . Weight Calculation: %s",
            F.col("_thr"),
            F.col("_wcalc"),
        ),
    ).when(F.col("_above") & ~selected, topn_reason).when(
        selected, F.format_string("SELECTED. Weight Calculation: %s", F.col("_wcalc"))
    )

    return t3.select(
        "request_id",
        "algorithm",
        selected.alias("selected"),
        "weight",
        F.array_compact(F.concat(F.col("_r1"), F.array(phase3_reason))).alias("reasons"),
    )
