"""Multipass positioning: the row-wise parity reference for the one-pass plan.

The Spark re-expression of POST /api/positioning/calculate
(SURVEY.md §3.2), one phase per module: prepare (explode, physics gate,
broadcast AP join) → context → selection → the closed-form algorithms →
the numeric tier → combiner, each its own aggregation or join over the
observation rows. Jobs, the positioning stream and the query registry do not
run this plan; they run positioning/onepass.py. It exists so that tests can
compare the one-pass kernel (onepass_kernel.py) against an independent,
phase-by-phase formulation of the same semantics
(test_onepass_matches_multipass and its randomized variants).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wifi_location_data_pipeline_spark.positioning import algorithms as alg
from wifi_location_data_pipeline_spark.positioning.combiner import combine_positions
from wifi_location_data_pipeline_spark.positioning.context import build_context
from wifi_location_data_pipeline_spark.positioning.numeric import numeric_positions_grouped
from wifi_location_data_pipeline_spark.positioning.prepare import (
    explode_requests,
    join_known_aps,
    physics_gate,
)
from wifi_location_data_pipeline_spark.positioning.selection import select_algorithms

NUMERIC = ("trilateration", "maximum_likelihood")


def position_requests_multipass(requests: DataFrame, access_points: DataFrame) -> DataFrame:
    """Nested request rows + AP dimension → one combined position per request,
    each phase its own aggregation/join.

    The numeric tier's applyInPandas touches only requests whose selection
    includes trilateration/MLE. Selection pruning for the closed forms
    happens on the per-request aggregate output (tiny) via the final inner
    join on (request_id, algorithm).
    """
    exploded = explode_requests(requests)  # carries n_scanned from array size
    obs = join_known_aps(physics_gate(exploded), access_points)
    # ONE shuffle on request_id up front: every downstream groupBy/window/join
    # clusters on request_id, so Catalyst reuses this partitioning and plans
    # them exchange-free (the stage-count win dominates at every scale)
    obs = obs.repartition("request_id").cache()
    context = build_context(obs)
    selection = select_algorithms(context).cache()

    closed = alg.closed_form_positions(obs)

    rr_sel = selection.filter(F.col("algorithm") == "rssi_ratio").select("request_id")
    rr = alg.rssi_ratio(obs.join(rr_sel, "request_id", "left_semi"))

    numeric_sel = selection.filter(F.col("algorithm").isin(*NUMERIC))
    numeric_obs = obs.join(numeric_sel, "request_id")
    numeric = numeric_positions_grouped(numeric_obs)

    positions = reduce(lambda a, b: a.unionByName(b), [closed, rr, numeric])
    # inner join keeps exactly the selected (request, algorithm) pairs and
    # attaches their selection weights for the combiner
    weighted = positions.join(selection, ["request_id", "algorithm"])
    return combine_positions(weighted)
