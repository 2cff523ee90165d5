"""Algorithm selection framework: the weight matrix as CASE exprs.

Implements the three-phase selection of
wifi-positioning-service/documents/algorithm-selection-framework.md:13-85
(hard constraints → multiplicative weighting → threshold + adaptive top-K),
matching AlgorithmSelector.java:67-120,273-320,365-438.

The weight tables below (factor class → per-algorithm multiplier) are the
single source: ``select_algorithms`` (the multipass reference) compiles them
to CASE expressions, and the one-pass kernel indexes them as NumPy arrays.

The product's selection, and its explanation, is one table:
``onepass_kernel.selection_table`` runs the kernel's ``select_phase`` once
over the 480 SelectionContexts, and each answer's selected algorithms,
``calculation_info`` and ``selection_info`` reasons are its context's row.
Its docstring states the rules (SURVEY §2.7: collinear → −trilateration,
drop weight < 0.4, top-2 if max > 0.8 else top-3; plus the rank-1 fallback
and the 0.5 floor on a very weak request's proximity weight) and defines
each reason string. ``select_algorithms`` is the row-wise reference that
``selection_matrix`` and the kernel's parity test check.
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
