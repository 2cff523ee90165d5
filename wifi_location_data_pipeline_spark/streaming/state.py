"""Stateful streaming AP refinement: the FRAMEWORK Kalman loop as
``applyInPandasWithState`` (doc :172-213; SURVEY.md §2.8 "stateful ops").

Each micro-batch of localized estimates updates the per-BSSID state
(x̂, P as a scalar variance) with the same fusion math as the batch
``operators.localization.kalman_update``; innovation-based relocation resets
the state. State lives in the streaming state store → survives restarts via
the checkpoint, and the timeout reaps BSSIDs idle past ``state_ttl_minutes``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from wifi_location_data_pipeline_spark.functions.geo import METERS_PER_DEG

STATE_SCHEMA = T.StructType(
    [
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("p_var_m2", T.DoubleType()),
        T.StructField("n_updates", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bssid", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("p_var_m2", T.DoubleType()),
        T.StructField("n_updates", T.LongType()),
        T.StructField("relocated", T.BooleanType()),
    ]
)


def _fuse(state, z_lat, z_lon, r_var):
    """One Kalman step; returns (lat, lon, p, relocated)."""
    lat, lon, p, _n = state
    innovation_m = math.hypot(
        (z_lat - lat) * METERS_PER_DEG,
        (z_lon - lon) * METERS_PER_DEG * math.cos(math.radians(lat)),
    )
    if innovation_m > 3.0 * math.sqrt(p + r_var):
        return z_lat, z_lon, r_var * 4.0, True  # relocation → reset, inflate P
    k = p / (p + r_var)
    return lat + k * (z_lat - lat), lon + k * (z_lon - lon), (1.0 - k) * p, False


def make_update_fn(state_ttl_ms: int | None):
    """Build the applyInPandasWithState body; TTL only when timeouts are on."""

    def update_ap_state(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bssid = key[0]
        if state.hasTimedOut:
            state.remove()
            return

        if state.exists:
            cur = list(state.get)
        else:
            cur = None

        relocated = False
        for pdf in pdfs:
            pdf = pdf.sort_values("batch_ts") if "batch_ts" in pdf.columns else pdf
            for row in pdf.itertuples(index=False):
                z_lat, z_lon = float(row.latitude), float(row.longitude)
                r_var = float(row.horizontal_accuracy) ** 2
                if cur is None:
                    cur = [z_lat, z_lon, r_var, 1]
                else:
                    lat, lon, p, moved = _fuse(cur, z_lat, z_lon, r_var)
                    relocated = relocated or moved
                    cur = [lat, lon, p, cur[3] + 1]

        if cur is not None:
            state.update(tuple(cur))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            yield pd.DataFrame(
                [[bssid, cur[0], cur[1], cur[2], cur[3], relocated]],
                columns=[f.name for f in OUTPUT_SCHEMA.fields],
            )

    return update_ap_state


def streaming_ap_state(estimates: DataFrame, state_ttl_ms: int | None = None) -> DataFrame:
    """Estimates stream (bssid, latitude, longitude, horizontal_accuracy[, batch_ts])
    → continuously refined AP state stream.

    ``state_ttl_ms`` reaps idle BSSIDs via ProcessingTimeTimeout. Default is
    NoTimeout: with timeouts enabled the engine schedules extra timeout-check
    micro-batches even with no new data, which keeps ``processAllAvailable``
    from ever settling — so TTL is opt-in for continuous deployments only.
    """
    return estimates.groupBy("bssid").applyInPandasWithState(
        make_update_fn(state_ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
