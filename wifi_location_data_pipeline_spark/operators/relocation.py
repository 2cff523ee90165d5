"""Relocation detection + Local Outlier Factor (SURVEY.md §2.9, FRAMEWORK doc).

- Relocation (doc :71-87): an AP that physically moved shows a change-point /
  bimodal structure in its location time series. Two detectors:
  (a) ``relocation_by_time_split`` — cheap SQL change-point: compare the
      centroid of the oldest vs newest halves of the AP's measurements; a gap
      ≫ the cloud's own spread flags relocation. One shuffle, any scale.
  (b) ``relocation_by_dbscan`` — per-AP DBSCAN (``dbscan_labels``, NumPy,
      no sklearn) finding ≥2 dense spatial clusters separated in time;
      precise but Python-tier, run only on candidates from (a).
- LOF (doc :113-115): density-based local outliers per AP (``lof_scores``,
  NumPy kNN inside applyInPandas); an optional refinement tier after the
  global MAD pass (operators/outliers.py).

``lof_scores`` and ``dbscan_labels`` are the package's only LOF and DBSCAN
bodies: the registry's ``lof_closed_form`` and ``dbscan_closed_form`` run
them too, so the DuckDB oracle checks the kernels these operators run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wifi_location_data_pipeline_spark.functions.geo import METERS_PER_DEG, haversine_m


def relocation_by_time_split(measurements: DataFrame, gap_factor: float = 3.0, min_gap_m: float = 100.0) -> DataFrame:
    """BSSIDs whose old-half and new-half centroids are farther apart than
    ``gap_factor`` × the within-half spread (and ≥ ``min_gap_m``)."""
    w_med = measurements.groupBy("bssid").agg(
        F.percentile_approx("measurement_timestamp", F.lit(0.5), F.lit(1000)).alias("_ts_med")
    )
    halves = measurements.join(w_med, "bssid").withColumn(
        "_half", F.when(F.col("measurement_timestamp") <= F.col("_ts_med"), "old").otherwise("new")
    )
    # one conditional aggregation instead of a (bssid, _half) groupBy +
    # old/new SELF-JOIN: the self-join recomputed the entire upstream
    # (scan, planted columns, per-AP cap window) once per side
    def half(cond_val, col):
        return F.when(F.col("_half") == cond_val, F.col(col))

    j = halves.groupBy("bssid").agg(
        F.avg(half("old", "latitude")).alias("olat"),
        F.avg(half("old", "longitude")).alias("olon"),
        F.coalesce(F.stddev_samp(half("old", "latitude")), F.lit(0.0)).alias("oslat"),
        F.coalesce(F.stddev_samp(half("old", "longitude")), F.lit(0.0)).alias("oslon"),
        # count ROWS per half (the pre-rework COUNT(*) semantics), not
        # non-NULL latitudes — a NULL-coordinate row still counted toward
        # the >= 5 sufficiency gate in the join formulation
        F.count(F.when(F.col("_half") == "old", F.lit(1))).alias("on"),
        F.avg(half("new", "latitude")).alias("nlat"),
        F.avg(half("new", "longitude")).alias("nlon"),
        F.coalesce(F.stddev_samp(half("new", "latitude")), F.lit(0.0)).alias("nslat"),
        F.coalesce(F.stddev_samp(half("new", "longitude")), F.lit(0.0)).alias("nslon"),
        F.count(F.when(F.col("_half") == "new", F.lit(1))).alias("nn"),
    )
    gap = haversine_m(F.col("olat"), F.col("olon"), F.col("nlat"), F.col("nlon"))
    spread = (
        F.greatest(F.col("oslat"), F.col("oslon"), F.col("nslat"), F.col("nslon"))
        * METERS_PER_DEG
    )
    return j.filter((F.col("on") >= 5) & (F.col("nn") >= 5)).select(
        "bssid",
        gap.alias("centroid_gap_m"),
        spread.alias("half_spread_m"),
        ((gap > gap_factor * F.greatest(spread, F.lit(1.0))) & (gap > min_gap_m)).alias(
            "relocated"
        ),
    )


_DBSCAN_SCHEMA = T.StructType(
    [
        T.StructField("bssid", T.StringType()),
        T.StructField("n_clusters", T.IntegerType()),
        T.StructField("relocated", T.BooleanType()),
    ]
)


def _ap_xy(pdf: pd.DataFrame) -> np.ndarray:
    """One AP's points in local meters around their mean position."""
    lat = pdf["latitude"].to_numpy(float)
    lon = pdf["longitude"].to_numpy(float)
    lat0 = float(np.mean(lat))
    x = (lon - float(np.mean(lon))) * METERS_PER_DEG * np.cos(np.radians(lat0))
    y = (lat - lat0) * METERS_PER_DEG
    return np.column_stack([x, y])


def _pair_dist(xy: np.ndarray) -> np.ndarray:
    """n×n Euclidean distances, self-pairs at +inf."""
    diff = xy[:, None, :] - xy[None, :, :]
    d = np.sqrt(diff[..., 0] * diff[..., 0] + diff[..., 1] * diff[..., 1])
    np.fill_diagonal(d, np.inf)
    return d


def dbscan_labels(
    xy: np.ndarray, ids: np.ndarray, eps: float, min_pts: int
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic DBSCAN* over one point set: (cluster label, is_core).

    A point is core iff |N_eps| + 1 ≥ ``min_pts``, N_eps being the other
    points at distance ≤ ``eps``. A core's label is the smallest core id in
    its component of the core eps-graph; a border point takes the smallest
    label among its core neighbours; noise is −1. Labels depend only on the
    points and ``ids`` (distinct int64), never on row order. Both the
    relocation operator and the ``dbscan_closed_form`` gate run this."""
    ids = np.asarray(ids, dtype=np.int64)
    nbrs = _pair_dist(xy) <= eps
    core = nbrs.sum(axis=1) + 1 >= min_pts
    none = np.iinfo(np.int64).max
    # min-id propagation over core-core edges (self included) to a fixpoint
    edges = nbrs & core[:, None] & core[None, :]
    np.fill_diagonal(edges, core)
    label = np.where(core, ids, none)
    while True:
        nxt = np.where(edges, label[None, :], none).min(axis=1, initial=none)
        if np.array_equal(nxt, label):
            break
        label = nxt
    border = np.where(nbrs & core[None, :], label[None, :], none).min(axis=1, initial=none)
    label = np.where(core, label, border)
    return np.where(label == none, -1, label), core


def _dbscan_group(pdf: pd.DataFrame, eps_m: float = 75.0, min_pts: int = 5) -> pd.DataFrame:
    """DBSCAN (``dbscan_labels``) over one AP's points, ids = row positions;
    relocated = ≥2 clusters whose time ranges are essentially disjoint
    (bimodal in space AND time)."""
    bssid = pdf["bssid"].iloc[0]
    ts = pdf["measurement_timestamp"].to_numpy(float)
    labels, _ = dbscan_labels(_ap_xy(pdf), np.arange(len(pdf)), eps_m, min_pts)
    clusters = np.unique(labels[labels >= 0])

    relocated = False
    if len(clusters) >= 2:
        ranges = sorted((ts[labels == c].min(), ts[labels == c].max()) for c in clusters)
        # disjoint-in-time clusters → the AP moved between them
        relocated = all(b0 > a1 for (_, a1), (b0, _) in zip(ranges, ranges[1:]))
    return pd.DataFrame(
        [[bssid, len(clusters), bool(relocated)]],
        columns=[f.name for f in _DBSCAN_SCHEMA.fields],
    )


def relocation_by_dbscan(
    measurements: DataFrame,
    candidates: DataFrame | None = None,
    max_rows_per_ap: int | None = 300,
) -> DataFrame:
    """Precise relocation check; restrict to ``candidates`` (bssid col) first.

    ``max_rows_per_ap`` bounds the O(n²) per-AP distance matrix inside the
    pandas tier: a hot BSSID with millions of rows (the SURVEY's skew risk)
    would otherwise OOM the executor building an n×n float64 array. The cap
    is a deterministic per-AP top-N by (timestamp, lat, lon) — 300 points is
    ample to resolve a bimodal relocation structure. Pass ``None`` only for
    inputs already bounded upstream.
    """
    m = measurements.select("bssid", "latitude", "longitude", "measurement_timestamp")
    if candidates is not None:
        m = m.join(candidates.select("bssid"), "bssid", "left_semi")
    m = _cap_per_ap(m, max_rows_per_ap, "measurement_timestamp", "latitude", "longitude")
    # applyInPandas requires a 1-/2-arg callable — wrap to hide the tuning kwargs
    return m.groupBy("bssid").applyInPandas(lambda pdf: _dbscan_group(pdf), _DBSCAN_SCHEMA)


_LOF_SCHEMA = T.StructType(
    [
        T.StructField("bssid", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("lof", T.DoubleType()),
    ]
)


def lof_scores(xy: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Local Outlier Factor of each point (≈1 inlier, ≫1 local outlier).

    The k nearest neighbours are chosen by (distance, id), so ties resolve
    by id and the scores never depend on row order; then reach-dist → lrd →
    LOF. Up to k + 1 points every score is 1.0. Both the operator and the
    ``lof_closed_form`` gate run this."""
    n = len(xy)
    if n <= k + 1:
        return np.ones(n)
    d = _pair_dist(xy)
    # lexsort's LAST key is the primary one
    idx = np.lexsort((np.broadcast_to(ids, (n, n)), d), axis=1)[:, :k]
    drows = np.take_along_axis(d, idx, axis=1)
    reach = np.maximum(drows, drows[:, k - 1][idx])
    lrd = 1.0 / np.maximum(reach.mean(axis=1), 1e-9)
    return lrd[idx].mean(axis=1) / lrd


def _lof_group(pdf: pd.DataFrame, k: int = 10) -> pd.DataFrame:
    pdf = pdf.sort_values("id", kind="stable")
    # ids = positions in id order, so neighbour ties resolve by id
    lof = lof_scores(_ap_xy(pdf), np.arange(len(pdf)), k)
    return pd.DataFrame({"bssid": pdf["bssid"], "id": pdf["id"], "lof": lof})


def local_outlier_factor(
    measurements: DataFrame, k: int = 10, max_rows_per_ap: int | None = 400
) -> DataFrame:
    """Per-row LOF score (≈1 inlier, ≫1 local outlier) per AP.

    ``max_rows_per_ap`` (deterministic top-N by ``id``) bounds the per-AP
    n×n distance matrix against skewed BSSIDs — same rationale and default
    as the registry harness; rows beyond the cap are simply not scored.
    """
    m = measurements.select("bssid", "id", "latitude", "longitude")
    m = _cap_per_ap(m, max_rows_per_ap, "id")
    return (
        m.groupBy("bssid")
        .applyInPandas(lambda pdf: _lof_group(pdf, k=k), _LOF_SCHEMA)
    )


def _cap_per_ap(df: DataFrame, cap: int | None, *order_cols: str) -> DataFrame:
    """Deterministic per-BSSID row cap (row_number over ``order_cols``)."""
    if cap is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy("bssid").orderBy(*order_cols)
    return (
        df.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= cap)
        .drop("_cap_rn")
    )
