"""Iterative/numeric positioning algorithms: trilateration + maximum likelihood.

These are genuinely non-closed-form (QR least squares; gradient ascent), so
they run as imperative NumPy per request (SURVEY.md §2.7/§2.10). Requests
are bounded by the ≤20-observation limit, so per-request work is O(1).
Two forms of each algorithm:

- production: the batched twins ``_trilat_arrays`` and ``_mle_batch``,
  called by the one-pass kernel. ``_mle_batch`` runs ``mle_ascent``, the
  package's one lockstep MLE/MAP ascent loop, which the AP localization
  tiers (operators/localization.py) run too;
- reference: the sequential ``_trilaterate_group`` and ``_mle_group``, run
  per request group by ``numeric_positions_grouped`` in the multipass plan.
  tests/test_positioning.py::test_numeric_batched_matches_sequential ties
  the two forms together.

Reference semantics:
- trilateration: TrilaterationAlgorithm.java:80-356,393-470,619-676,805-899,
  1034-1123 (RSSI→distance via FSPL reference + n∈{2.5,3.0}, linearized
  least squares relative to the first AP, weighted-centroid fallback,
  GDOP-refined accuracy/confidence)
- MLE: MaximumLikelihoodAlgorithm.java:72-154,387-420,461-512,657,889-955
  (weighted-centroid init, gradient ascent on the log-likelihood
  L = Σ −(rssiᵢ−expected(dᵢ))²/(2σᵢ²)·confᵢ, ≤100 iters, lr halving on
  non-improvement, stop at lr < 0.1 m). The ascent here runs in local meter
  coordinates for numerical sanity (the framework doc's formulation).
- GDOP: util/GDOPCalculator.java:38,237-281,603-626
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from wifi_location_data_pipeline_spark import config as C
from wifi_location_data_pipeline_spark.functions.geo import METERS_PER_DEG

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType()),
        T.StructField("algorithm", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("accuracy", T.DoubleType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)

SPEED_OF_LIGHT = 299_792_458.0


def _distance_from_rssi(rssi: np.ndarray, freq_mhz: np.ndarray) -> np.ndarray:
    """TrilaterationAlgorithm.calculateDistanceFromRSSI (:805-833)."""
    freq_hz = np.where(freq_mhz > 0, freq_mhz, 2437) * 1e6
    wavelength = SPEED_OF_LIGHT / freq_hz
    ref_rssi = -20.0 * np.log10(4.0 * math.pi / wavelength)
    n = np.where(rssi >= -65.0, C.TRILAT_PATH_LOSS_FREE_SPACE, C.TRILAT_PATH_LOSS_INDOOR)
    dist = np.power(10.0, (ref_rssi - rssi) / (10.0 * n))
    return np.clip(dist, 1.0, 100.0)


def _gdop(xs: np.ndarray, ys: np.ndarray, px: float, py: float) -> float:
    """GDOP = √trace((HᵀH)⁻¹) over 2D unit vectors (GDOPCalculator :280-281)."""
    dx, dy = xs - px, ys - py
    r = np.maximum(np.hypot(dx, dy), 1e-9)
    h = np.column_stack([dx / r, dy / r])
    hth = h.T @ h
    det = np.linalg.det(hth)
    if abs(det) < 1e-10:
        return 30.0
    return float(min(30.0, math.sqrt(np.trace(np.linalg.inv(hth)))))


def _gdop_fast(xs: np.ndarray, ys: np.ndarray, px: float, py: float) -> float:
    """Closed-form twin of ``_gdop`` for the 2x2 case: trace((HᵀH)⁻¹) =
    (a+c)/(ac−b²) — no per-request LAPACK det/inv calls (the batched kernel
    paths run this once per trilateration-routed request)."""
    dx, dy = xs - px, ys - py
    r = np.maximum(np.hypot(dx, dy), 1e-9)
    ux, uy = dx / r, dy / r
    a = float(np.dot(ux, ux))
    b = float(np.dot(ux, uy))
    c = float(np.dot(uy, uy))
    det = a * c - b * b
    if abs(det) < 1e-10:
        return 30.0
    val = (a + c) / det
    return float(min(30.0, math.sqrt(val))) if val > 0.0 else 30.0


def _gdop_factor(gdop: float) -> float:
    """GDOPCalculator.calculateGDOPFactor (:603-626)."""
    if gdop <= 2.0:
        return 1.0
    if gdop <= 4.0:
        return 1.0 + 0.5 * ((gdop - 2.0) / 2.0)
    if gdop <= 6.0:
        return 1.5 + 0.5 * ((gdop - 4.0) / 2.0)
    return min(4.0, 2.0 + (gdop - 6.0) / 2.0)


def _local_xy(lat: np.ndarray, lon: np.ndarray, lat0: float, lon0: float):
    x = (lon - lon0) * METERS_PER_DEG * math.cos(math.radians(lat0))
    y = (lat - lat0) * METERS_PER_DEG
    return x, y


def _weighted_centroid(lat, lon, rssi):
    norm = np.clip((rssi + 30.0) / (-70.0), 0.0, 1.0)
    w = np.power(10.0, norm)
    return float(np.sum(lat * w) / np.sum(w)), float(np.sum(lon * w) / np.sum(w))


def _trilat_quality(avg_s: float, avg_d: float, gf: float, n_aps: int):
    """(accuracy, confidence) of a trilateration fix from its mean RSSI,
    mean distance, GDOP factor and AP count."""
    # accuracy (:1034-1070)
    if avg_s >= -65.0:
        accuracy = 3.0 * (1.0 + (gf - 1.0) * 0.5)
        accuracy = max(1.0, min(5.0, accuracy))
    else:
        accuracy = min(avg_d * 0.3, 50.0) * gf
        accuracy = max(1.0, min(50.0, accuracy))

    # confidence (:1104-1180)
    lo, hi = C.TRILAT_CONF_MIN, C.TRILAT_CONF_MAX
    if avg_s >= -65.0:
        signal_factor = min(1.0, max(0.0, (avg_s - (-80.0)) / ((-65.0) - (-80.0))))
    else:
        signal_factor = min(1.0, max(0.0, (avg_s - (-100.0)) / ((-80.0) - (-100.0))))
    ap_factor = min(1.0, max(0.0, (n_aps - C.TRILAT_MIN_APS) / 5.0))
    base_conf = lo + (hi - lo) * (
        C.TRILAT_CONF_SIGNAL_COEF * signal_factor + C.TRILAT_CONF_APCOUNT_COEF * ap_factor
    )
    conf = base_conf * (1.0 - 0.30 * (1.0 - 1.0 / max(1.0, gf)))
    if avg_s >= -65.0:
        conf = max(0.8, min(hi, conf))
    elif avg_s < -80.0:
        conf = min(0.58, conf)
    return accuracy, max(lo, min(hi, conf))


def _trilaterate_group(pdf: pd.DataFrame) -> list | None:
    if len(pdf) < C.TRILAT_MIN_APS:
        return None
    rssi = pdf["signal_strength"].to_numpy(dtype=float)
    freq = pdf["frequency"].fillna(2437).to_numpy(dtype=float)
    lat = pdf["ap_lat"].to_numpy(dtype=float)
    lon = pdf["ap_lon"].to_numpy(dtype=float)
    dists = _distance_from_rssi(rssi, freq)

    lat0, lon0 = float(lat[0]), float(lon[0])
    x, y = _local_xy(lat, lon, lat0, lon0)

    # linear system relative to AP 0 (TrilaterationAlgorithm :851-899)
    a = np.column_stack([2.0 * (x[1:] - x[0]), 2.0 * (y[1:] - y[0])])
    b = (
        (x[1:] ** 2 + y[1:] ** 2)
        - (x[0] ** 2 + y[0] ** 2)
        + (dists[0] ** 2 - dists[1:] ** 2)
    )
    try:
        sol, *_ = np.linalg.lstsq(a, b, rcond=None)
        px, py = float(sol[0]), float(sol[1])
        if not (math.isfinite(px) and math.isfinite(py)):
            raise ValueError
    except (np.linalg.LinAlgError, ValueError):
        # fallback: weighted centroid in local coords (:619-642)
        clat, clon = _weighted_centroid(lat, lon, rssi)
        cx, cy = _local_xy(np.array([clat]), np.array([clon]), lat0, lon0)
        px, py = float(cx[0]), float(cy[0])

    gdop = _gdop(x, y, px, py)
    gf = _gdop_factor(gdop)
    avg_s = float(np.mean(rssi))
    avg_d = float(np.mean(dists))

    out_lat = lat0 + py / METERS_PER_DEG
    out_lon = lon0 + px / (METERS_PER_DEG * math.cos(math.radians(lat0)))
    out_lat = min(90.0, max(-90.0, out_lat))
    out_lon = min(180.0, max(-180.0, out_lon))

    accuracy, conf = _trilat_quality(avg_s, avg_d, gf, len(pdf))

    alts = pdf["ap_alt"].dropna()
    altitude = float(alts.mean()) if len(alts) else 0.0
    return [out_lat, out_lon, altitude, float(accuracy), float(conf)]


def _expected_rssi(d: np.ndarray, freq_hz: np.ndarray) -> np.ndarray:
    wavelength = SPEED_OF_LIGHT / freq_hz
    ref_rssi = -20.0 * np.log10(4.0 * math.pi / wavelength)
    return ref_rssi - 10.0 * 3.0 * np.log10(np.maximum(d, 1.0))


def _mle_group(pdf: pd.DataFrame) -> list | None:
    if len(pdf) < 4:
        return None
    rssi = pdf["signal_strength"].to_numpy(dtype=float)
    freq_hz = pdf["frequency"].fillna(2437).to_numpy(dtype=float) * 1e6
    lat = pdf["ap_lat"].to_numpy(dtype=float)
    lon = pdf["ap_lon"].to_numpy(dtype=float)
    ap_conf = pdf["ap_confidence"].fillna(0.5).to_numpy(dtype=float)
    sigma = np.where(rssi >= -60.0, 2.5, np.where(rssi >= -80.0, 4.0, 6.0))

    lat0, lon0 = float(np.mean(lat)), float(np.mean(lon))
    ax, ay = _local_xy(lat, lon, lat0, lon0)
    clat, clon = _weighted_centroid(lat, lon, rssi)
    px, py = (
        float((clon - lon0) * METERS_PER_DEG * math.cos(math.radians(lat0))),
        float((clat - lat0) * METERS_PER_DEG),
    )

    def log_likelihood(x: float, y: float) -> float:
        d = np.hypot(ax - x, ay - y)
        err = rssi - _expected_rssi(d, freq_hz)
        return float(np.sum(-(err**2) / (2.0 * sigma**2) * ap_conf))

    def gradient(x: float, y: float):
        d = np.maximum(np.hypot(ax - x, ay - y), 1.0)
        err = rssi - _expected_rssi(d, freq_hz)
        # dL/dpos = Σ err/σ²·conf · (10n/ln10) · (ap − pos)/d²  (ascent direction)
        k = err / (sigma**2) * ap_conf * (10.0 * 3.0 / math.log(10.0)) / (d**2)
        return float(np.sum(k * (ax - x))), float(np.sum(k * (ay - y)))

    best = (px, py)
    best_ll = log_likelihood(px, py)
    cur = best
    lr = 1.0
    for _ in range(100):  # MAX_OPTIMIZATION_ITERATIONS
        gx, gy = gradient(*cur)
        gn = math.hypot(gx, gy)
        if gn < 1e-12:
            break
        step = (cur[0] + lr * gx / gn, cur[1] + lr * gy / gn)
        ll = log_likelihood(*step)
        if ll > best_ll:
            best_ll, best, cur = ll, step, step
            lr *= 1.2
        else:
            lr *= 0.5  # LEARNING_RATE_REDUCTION_FACTOR
        if lr < 0.1:  # CONVERGENCE_THRESHOLD_METERS
            break

    px, py = best
    gdop = _gdop(ax, ay, px, py)
    gf = _gdop_factor(gdop)
    avg_s = float(np.mean(rssi))

    out_lat = lat0 + py / METERS_PER_DEG
    out_lon = lon0 + px / (METERS_PER_DEG * math.cos(math.radians(lat0)))

    # accuracy (MaximumLikelihoodAlgorithm :168-215): strong → ~3 m base scaled
    # by GDOP, capped [1, 25]
    if avg_s >= -60.0:
        accuracy = max(1.0, min(5.0, 3.0 * (1.0 + (gf - 1.0) * 0.5)))
    else:
        accuracy = 6.0 + abs(avg_s - (-70.0)) * 0.2
        accuracy = max(1.0, min(25.0, accuracy * gf))

    # confidence (:240-260): [0.6, 0.95], strong-signal floor 0.8
    signal_factor = min(1.0, max(0.0, (avg_s + 100.0) / 40.0))
    conf = 0.6 + (0.95 - 0.6) * signal_factor / max(1.0, gf)
    if avg_s >= -60.0:
        conf = max(0.8, conf)
    conf = max(0.6, min(0.95, conf))

    alts = pdf["ap_alt"].dropna()
    altitude = float(alts.mean()) if len(alts) else 0.0
    return [out_lat, out_lon, altitude, float(accuracy), float(conf)]


def mle_ascent(ax, ay, rssi, ref, n_exp, sig2, weight, px, py, prior=None):
    """The lockstep MLE/MAP gradient ascent over R padded (R×K) problems —
    the one loop positioning's ``_mle_batch`` and the localization tiers'
    ``_mle_localize_batch`` share.

    Per row it maximizes L = Σ −(rssi − (ref − 10·n_exp·log10 d))²/(2σ²)·weight
    with d = max(‖a − pos‖, 1), from the start point (px, py). ``prior`` =
    (ppx, ppy, 1/P) adds the Gaussian log-prior −‖pos − (ppx, ppy)‖²/(2P)
    (MAP; a row with 1/P = 0 stays plain MLE). Schedule: a step of length lr
    along the normalized gradient, lr ×1.2 on improvement and ×0.5 otherwise;
    a row stops at a flat point (‖g‖ < 1e-12), at lr < C.MLE_CONVERGENCE_M or
    after C.MLE_MAX_ITERATIONS. Padded entries carry weight 0. Returns the
    best (x, y) per row.

    Every op is element-wise per row, so each row gets the bits a sequential
    run over that row alone would. That stays true under two savings:
    - frozen rows leave the working set (compaction once 1/8 of it froze)
      without changing the other rows' values; without compaction the loop
      runs at full width for the slowest straggler, while typical batches
      converge in ~20-40 iterations;
    - the gradient at an unchanged point reuses the (d, err) of its last
      evaluation (the same floats either way).
    """
    ten_n = 10.0 * n_exp
    # per-element working set: ax, ay, rssi, ref, 10·n, ∂ scale, σ², 2σ², weight
    el = [ax, ay, rssi, ref, ten_n, ten_n / math.log(10.0), sig2, 2.0 * sig2, weight]
    pr = [] if prior is None else list(prior)  # per-row: ppx, ppy, 1/P

    def eval_point(x, y):
        ax_w, ay_w, rssi_w, ref_w, ten_w, _, _, two_sig2_w, w_w = el
        d = np.maximum(np.hypot(ax_w - x[:, None], ay_w - y[:, None]), 1.0)
        err = rssi_w - (ref_w - ten_w * np.log10(d))
        ll = np.sum(-(err**2) / two_sig2_w * w_w, axis=1)
        if pr:
            ppx, ppy, ipv = pr
            ll = ll - 0.5 * ipv * ((x - ppx) ** 2 + (y - ppy) ** 2)
        return d, err, ll

    best_x_full, best_y_full = px.copy(), py.copy()
    widx = np.arange(len(px))
    cur_x, cur_y = px.copy(), py.copy()
    best_x, best_y = px.copy(), py.copy()
    d_cur, err_cur, best_ll = eval_point(cur_x, cur_y)
    lr = np.ones(len(px))
    frozen = np.zeros(len(px), dtype=bool)  # converged rows awaiting compaction

    for _ in range(C.MLE_MAX_ITERATIONS):
        ax_w, ay_w, _, _, _, kgrad_w, sig2_w, _, w_w = el
        kk = err_cur / sig2_w * w_w * kgrad_w / (d_cur**2)
        gx = np.sum(kk * (ax_w - cur_x[:, None]), axis=1)
        gy = np.sum(kk * (ay_w - cur_y[:, None]), axis=1)
        if pr:
            ppx, ppy, ipv = pr
            gx = gx + ipv * (ppx - cur_x)
            gy = gy + ipv * (ppy - cur_y)
        gn = np.hypot(gx, gy)
        dead = ~frozen & (gn < 1e-12)  # flat point: freeze at current best
        safe_gn = np.where(gn > 0, gn, 1.0)
        step_x = cur_x + lr * gx / safe_gn
        step_y = cur_y + lr * gy / safe_gn
        d_s, err_s, ll = eval_point(step_x, step_y)
        improved = ~frozen & ~dead & (ll > best_ll)
        best_ll = np.where(improved, ll, best_ll)
        best_x = np.where(improved, step_x, best_x)
        best_y = np.where(improved, step_y, best_y)
        cur_x = np.where(improved, step_x, cur_x)
        cur_y = np.where(improved, step_y, cur_y)
        imp2 = improved[:, None]
        d_cur = np.where(imp2, d_s, d_cur)
        err_cur = np.where(imp2, err_s, err_cur)
        lr = np.where(frozen | dead, lr, np.where(improved, lr * 1.2, lr * 0.5))
        frozen |= dead | (lr < C.MLE_CONVERGENCE_M)
        n_frozen = int(frozen.sum())
        if n_frozen == len(widx):
            break
        # compact once a meaningful slice converged; tiny tails ride along
        # (frozen rows are excluded from every update above, so carrying
        # them a few extra iterations is wasted flops, never wrong values)
        if n_frozen * 8 >= len(widx):
            best_x_full[widx[frozen]] = best_x[frozen]
            best_y_full[widx[frozen]] = best_y[frozen]
            keep = ~frozen
            widx = widx[keep]
            el = [a[keep] for a in el]
            pr = [a[keep] for a in pr]
            d_cur, err_cur, cur_x, cur_y, best_x, best_y, best_ll, lr, frozen = (
                a[keep]
                for a in (d_cur, err_cur, cur_x, cur_y, best_x, best_y, best_ll, lr, frozen)
            )
    best_x_full[widx] = best_x
    best_y_full[widx] = best_y
    return best_x_full, best_y_full


def _mle_batch(groups: list[dict]) -> list[list | None]:
    """Lockstep-vectorized twin of ``_mle_group`` over many requests.

    The sequential loop costs ~100 iterations × ~40 tiny-NumPy ops per
    request; across thousands of requests that dwarfs everything else in the
    ensemble. Here the requests become padded (R×K) tensors with n = 3 and
    the RSSI-band σ, ``mle_ascent`` updates them all at once, and one
    vectorized finalize turns the best points into results (element-wise ops
    ⇒ bit-identical math per request).

    Each group dict: rssi, freq (MHz), lat, lon, conf, alt (np arrays).
    Returns one result list (or None when <4 APs) per group, same order.
    """
    idx = [i for i, g in enumerate(groups) if len(g["rssi"]) >= 4]
    out: list[list | None] = [None] * len(groups)
    if not idx:
        return out
    R = len(idx)
    lens = np.array([len(groups[i]["rssi"]) for i in idx])
    # pad to at least the request cap: a row's reductions then run over the
    # same width, and give the same bits, whatever else shares the batch
    K = max(int(lens.max()), C.POSITIONING_MAX_SCANS_PER_REQUEST)
    mask = np.arange(K) < lens[:, None]

    # padded-tensor build, fully vectorized (the per-request init loop cost
    # ~60 µs/request of small-NumPy dispatch — the dominant term when
    # thousands of requests route to MLE in one kernel batch). Padded
    # entries sit at the local origin with conf 0 — they contribute exactly
    # 0 to the likelihood, the gradient, and the masked reductions.
    def pad(key, fill):
        m = np.full((R, K), fill)
        m[mask] = np.concatenate([groups[i][key] for i in idx])
        return m

    rssi = pad("rssi", 0.0)
    rssi[~mask] = 0.0
    freq = pad("freq", 2437.0)
    freq_hz = np.where(np.isnan(freq), 2437.0, freq) * 1e6
    conf = np.where(mask, np.nan_to_num(pad("conf", 0.0), nan=0.5), 0.0)
    lat = pad("lat", 0.0)
    lon = pad("lon", 0.0)
    sigma = np.where(
        mask, np.where(rssi >= -60.0, 2.5, np.where(rssi >= -80.0, 4.0, 6.0)), 1.0
    )
    kf = lens.astype(float)
    lat0 = np.sum(np.where(mask, lat, 0.0), axis=1) / kf
    lon0 = np.sum(np.where(mask, lon, 0.0), axis=1) / kf
    coslat = np.cos(np.radians(lat0))
    ax = np.where(mask, (lon - lon0[:, None]) * METERS_PER_DEG * coslat[:, None], 0.0)
    ay = np.where(mask, (lat - lat0[:, None]) * METERS_PER_DEG, 0.0)
    # init: weighted centroid in degrees, then to local meters (same formula
    # as the sequential _mle_group; masked reductions replace exact slices)
    wcw = np.where(mask, np.power(10.0, np.clip((rssi + 30.0) / (-70.0), 0.0, 1.0)), 0.0)
    wsum = np.sum(wcw, axis=1)
    clat = np.sum(lat * wcw, axis=1) / wsum
    clon = np.sum(lon * wcw, axis=1) / wsum
    px = (clon - lon0) * METERS_PER_DEG * coslat
    py = (clat - lat0) * METERS_PER_DEG

    wavelength = SPEED_OF_LIGHT / freq_hz
    ref_rssi = -20.0 * np.log10(4.0 * math.pi / wavelength)
    best_x, best_y = mle_ascent(
        ax, ay, rssi, ref_rssi, np.full((R, K), 3.0), sigma**2, conf, px, py
    )

    # vectorized finalize: closed-form 2x2 GDOP (trace((HᵀH)⁻¹) = (a+c)/det)
    # over masked unit vectors — same math as _gdop without per-request
    # LAPACK calls
    with np.errstate(all="ignore"):
        dx = ax - best_x[:, None]
        dy = ay - best_y[:, None]
        rr = np.maximum(np.hypot(dx, dy), 1e-9)
        ux, uy = dx / rr, dy / rr
        ga = np.sum(np.where(mask, ux * ux, 0.0), axis=1)
        gb = np.sum(np.where(mask, ux * uy, 0.0), axis=1)
        gc = np.sum(np.where(mask, uy * uy, 0.0), axis=1)
        gdet = ga * gc - gb * gb
        gdop = np.where(
            np.abs(gdet) < 1e-10, 30.0,
            np.minimum(30.0, np.sqrt(np.maximum((ga + gc) / gdet, 0.0))),
        )
        gf = np.select(
            [gdop <= 2.0, gdop <= 4.0, gdop <= 6.0],
            [1.0, 1.0 + 0.5 * ((gdop - 2.0) / 2.0), 1.5 + 0.5 * ((gdop - 4.0) / 2.0)],
            default=np.minimum(4.0, 2.0 + (gdop - 6.0) / 2.0),
        )
        avg_s = np.sum(np.where(mask, rssi, 0.0), axis=1) / kf
        out_lat = lat0 + best_y / METERS_PER_DEG
        out_lon = lon0 + best_x / (METERS_PER_DEG * coslat)
        strong = avg_s >= -60.0
        accuracy = np.where(
            strong,
            np.clip(3.0 * (1.0 + (gf - 1.0) * 0.5), 1.0, 5.0),
            np.clip((6.0 + np.abs(avg_s + 70.0) * 0.2) * gf, 1.0, 25.0),
        )
        signal_factor = np.clip((avg_s + 100.0) / 40.0, 0.0, 1.0)
        cc = 0.6 + (0.95 - 0.6) * signal_factor / np.maximum(1.0, gf)
        cc = np.clip(np.where(strong, np.maximum(0.8, cc), cc), 0.6, 0.95)
        altp = pad("alt", np.nan)
        alt_ok = mask & ~np.isnan(altp)
        n_alt = alt_ok.sum(axis=1)
        altitude = np.where(
            n_alt > 0,
            np.sum(np.where(alt_ok, altp, 0.0), axis=1) / np.maximum(n_alt, 1),
            0.0,
        )
    for r, i in enumerate(idx):
        out[i] = [
            float(out_lat[r]), float(out_lon[r]), float(altitude[r]),
            float(accuracy[r]), float(cc[r]),
        ]
    return out


def _trilat_arrays(g: dict) -> list | None:
    """NumPy-arrays twin of ``_trilaterate_group``: same operation sequence,
    no per-request pandas DataFrame (the construction alone cost ~0.3 ms per
    request — the dominant term when thousands of requests route to
    trilateration in one kernel batch)."""
    rssi = g["rssi"]
    if len(rssi) < C.TRILAT_MIN_APS:
        return None
    freq = np.where(np.isnan(g["freq"]), 2437.0, g["freq"])
    lat, lon = g["lat"], g["lon"]
    dists = _distance_from_rssi(rssi, freq)

    lat0, lon0 = float(lat[0]), float(lon[0])
    x, y = _local_xy(lat, lon, lat0, lon0)

    # linear system relative to AP 0 (TrilaterationAlgorithm :851-899)
    a = np.column_stack([2.0 * (x[1:] - x[0]), 2.0 * (y[1:] - y[0])])
    b = (
        (x[1:] ** 2 + y[1:] ** 2)
        - (x[0] ** 2 + y[0] ** 2)
        + (dists[0] ** 2 - dists[1:] ** 2)
    )
    try:
        sol, *_ = np.linalg.lstsq(a, b, rcond=None)
        px, py = float(sol[0]), float(sol[1])
        if not (math.isfinite(px) and math.isfinite(py)):
            raise ValueError
    except (np.linalg.LinAlgError, ValueError):
        # fallback: weighted centroid in local coords (:619-642)
        clat, clon = _weighted_centroid(lat, lon, rssi)
        cx, cy = _local_xy(np.array([clat]), np.array([clon]), lat0, lon0)
        px, py = float(cx[0]), float(cy[0])

    gdop = _gdop_fast(x, y, px, py)
    gf = _gdop_factor(gdop)
    avg_s = float(np.mean(rssi))
    avg_d = float(np.mean(dists))

    out_lat = lat0 + py / METERS_PER_DEG
    out_lon = lon0 + px / (METERS_PER_DEG * math.cos(math.radians(lat0)))
    out_lat = min(90.0, max(-90.0, out_lat))
    out_lon = min(180.0, max(-180.0, out_lon))

    accuracy, conf = _trilat_quality(avg_s, avg_d, gf, len(rssi))

    alts = g["alt"][~np.isnan(g["alt"])]
    altitude = float(alts.mean()) if len(alts) else 0.0
    return [out_lat, out_lon, altitude, float(accuracy), float(conf)]


def _run_numeric(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map body: run whichever numeric algorithms this request selected.

    Duplicate macs keep their minimum scan (mac, signal, frequency with nulls
    first) — the one-pass kernel's keep-first rule, after the reference's
    createAPMap — and the kept rows stay
    in mac order, so trilateration's reference AP (row 0) is the kernel's."""
    rid = pdf["request_id"].iloc[0]
    wanted = set(pdf["algorithm"].unique())
    obs = pdf.sort_values(
        ["mac_addr", "signal_strength", "frequency"], na_position="first"
    ).drop_duplicates(subset=["mac_addr"])
    rows = []
    if "trilateration" in wanted:
        r = _trilaterate_group(obs)
        if r is not None:
            rows.append([rid, "trilateration", *r])
    if "maximum_likelihood" in wanted:
        r = _mle_group(obs)
        if r is not None:
            rows.append([rid, "maximum_likelihood", *r])
    return pd.DataFrame(rows, columns=[f.name for f in RESULT_SCHEMA.fields])


def numeric_positions_grouped(obs_with_selection: DataFrame) -> DataFrame:
    """The multipass reference's numeric tier: one applyInPandas call per
    request over its observations joined with its selected numeric
    algorithms (one row per observation × algorithm), running the sequential
    ``_trilaterate_group`` / ``_mle_group``. Output: RESULT_SCHEMA rows."""
    return obs_with_selection.groupBy("request_id").applyInPandas(
        _run_numeric, RESULT_SCHEMA
    )
