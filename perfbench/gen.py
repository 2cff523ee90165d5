"""Seeded input generator for the product-path benchmark.

Everything the engine sees is produced here, from ``seed`` and ``now_ms``
alone: the same pair gives byte-identical files. Timestamps are offsets from
``now_ms``, which the benchmark takes from the wall clock floored to the UTC
day, so the stage-1 "at most 365 days old" filter keeps the workload the same
size on any date while inputs stay reproducible within a day.

Inputs:

- a city grid of access points (``City``);
- a raw zone of base64(gzip(JSON)) scan-document lines, framed the way the
  ingestion consumer frames them, with planted malformed lines, stage-1 edge
  cases, duplicate documents and hotspot-OUI rows (``write_raw_zone``);
- an AP-centric ``wifi_measurements`` frame spanning every maturity tier,
  with planted outliers, mobile hotspots and one relocated AP
  (``make_measurements``), plus a prior AP state;
- positioning requests of 1-20 scans, some with unknown MACs or failing the
  signal-physics gate (``make_requests``).

Each writer also returns what a correct engine must produce from it, computed
here in plain Python by the engine's documented rules.
"""

from __future__ import annotations

import base64
import gzip
import json
import math
import os
import random

import numpy as np
import pandas as pd

DAY_MS = 86_400_000
M_PER_DEG = 111_000.0
CITY_LAT, CITY_LON = 40.7400, -73.9900
COS_LAT = math.cos(math.radians(CITY_LAT))
HOTSPOT_OUI = "00:23:6c"  # in the engine's default EXCLUDE blacklist
VENDORS = ("cisco", "aruba", "ubiquiti", "ruckus", "meraki", "generic")
MAX_AGE_DAYS = 365


def day_floor_ms(epoch_ms: int) -> int:
    return epoch_ms - epoch_ms % DAY_MS


def to_latlon(x_m, y_m):
    return CITY_LAT + np.asarray(y_m) / M_PER_DEG, CITY_LON + np.asarray(x_m) / (M_PER_DEG * COS_LAT)


def rssi_at(d_m: np.ndarray, freq: np.ndarray, noise: np.ndarray) -> np.ndarray:
    """Log-distance model (n=3, band reference RSSI), clipped to [-99, -31]."""
    ref = np.where(freq >= 5000, -45.0, -40.0)
    r = ref - 30.0 * np.log10(np.maximum(d_m, 1.0)) + noise
    return np.clip(np.round(r), -99, -31).astype(int)


class City:
    """APs on a jittered square grid; positions in metres from the SW corner."""

    def __init__(self, seed: int, n_aps: int, spacing_m: float = 40.0):
        rng = np.random.default_rng([seed, 1])
        side = math.ceil(math.sqrt(n_aps))
        idx = np.arange(n_aps)
        self.side_m = side * spacing_m
        self.x = (idx % side) * spacing_m + rng.uniform(-5, 5, n_aps)
        self.y = (idx // side) * spacing_m + rng.uniform(-5, 5, n_aps)
        self.lat, self.lon = to_latlon(self.x, self.y)
        self.freq = np.where(rng.random(n_aps) < 0.6, 2437, 5180)
        self.vendor = [VENDORS[v] for v in rng.integers(0, len(VENDORS), n_aps)]
        p = seed % 256
        self.macs = [f"0a:{p:02x}:{i >> 16 & 255:02x}:{i >> 8 & 255:02x}:{i & 255:02x}:01" for i in idx]

    def __len__(self) -> int:
        return len(self.macs)

    def near(self, x: float, y: float, radius_m: float) -> tuple[np.ndarray, np.ndarray]:
        """(indices, distances) of APs within ``radius_m``, nearest first."""
        d = np.hypot(self.x - x, self.y - y)
        idx = np.nonzero(d < radius_m)[0]
        order = np.argsort(d[idx], kind="stable")
        return idx[order], d[idx][order]


def haversine_m(lat1, lon1, lat2, lon2):
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(v, dtype=float)) for v in (lat1, lon1, lat2, lon2))
    a = np.sin((lat2 - lat1) / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    return 2 * 6_371_000.0 * np.arcsin(np.sqrt(a))


# ---------------------------------------------------------------------------
# raw zone (ingest)
# ---------------------------------------------------------------------------


def frame_line(text: str) -> str:
    """base64(gzip(utf-8)) with a fixed gzip mtime, as the ingestion consumer frames a record."""
    return base64.b64encode(gzip.compress(text.encode("utf-8"), mtime=0)).decode("ascii")


def _normalize_bssid(b: str) -> str:
    return b.lower().replace("-", ":")


_HEX = set("0123456789abcdef")


def _valid_bssid(b: str) -> bool:
    parts = b.split(":")
    ok = len(parts) == 6 and all(len(p) == 2 and set(p) <= _HEX for p in parts)
    return ok and b.replace(":", "") not in ("000000000000", "ffffffffffff")


def _row_key(ts, bssid, rssi, loc, status, now_ms):
    """Dedup key of a flattened row if it survives stage 1 + the OUI filter, else None."""
    if bssid is None or ts is None:
        return None
    b = _normalize_bssid(bssid)
    lat, lon, acc = loc.get("latitude"), loc.get("longitude"), loc.get("accuracy")
    if lat is None or lon is None or not (-90 <= lat <= 90 and -180 <= lon <= 180):
        return None
    if acc is not None and acc > 150.0:
        return None
    if rssi is None or not (-100 <= rssi <= 0):
        return None
    if not _valid_bssid(b) or b.startswith(HOTSPOT_OUI):
        return None
    if ts > now_ms or ts < now_ms - MAX_AGE_DAYS * DAY_MS:
        return None
    return (ts, b, status)


def _doc_keys(doc: dict, now_ms: int) -> set:
    keys = set()
    for e in doc.get("wifiConnectedEvents") or []:
        info = e.get("wifiConnectedInfo") or {}
        keys.add(_row_key(e.get("timestamp"), info.get("bssid"), info.get("rssi"),
                          e.get("location") or {}, "CONNECTED", now_ms))
    for sr in doc.get("scanResults") or []:
        for r in sr.get("results") or []:
            keys.add(_row_key(sr.get("timestamp"), r.get("bssid"), r.get("rssi"),
                              sr.get("location") or {}, "SCAN", now_ms))
    keys.discard(None)
    return keys


def _n_rows(doc: dict) -> int:
    """Rows the flatten step emits for a document (before any filter)."""
    return len(doc.get("wifiConnectedEvents") or []) + sum(
        len(sr.get("results") or []) for sr in doc.get("scanResults") or []
    )


def _location(lat, lon, ts, rng: random.Random, accuracy="draw") -> dict:
    return {
        "source": "gps", "latitude": float(lat), "longitude": float(lon),
        "altitude": round(10.0 + rng.uniform(-2, 2), 3),
        "accuracy": round(rng.uniform(5, 60), 3) if accuracy == "draw" else accuracy,
        "time": ts, "provider": "fused", "speed": round(rng.uniform(0, 2), 3),
        "bearing": round(rng.uniform(0, 360), 3),
    }


def _scan_doc(results, location, ts, model="SM-A536V", events=()) -> dict:
    return {
        "osVersion": "14", "model": model, "device": "a53x", "manufacturer": "samsung",
        "osName": "Android", "sdkInt": "34", "appNameVersion": "scanner/2.1", "dataVersion": "2",
        "wifiConnectedEvents": list(events),
        "scanResults": [{"timestamp": ts, "mode": "walking", "location": location, "results": results}],
    }


def _edge_docs(now_ms: int, rng: random.Random) -> list[dict]:
    """Stage-1 edge cases: each row below is dropped, except where noted."""
    ts = now_ms - 3_600_000
    loc = _location(CITY_LAT, CITY_LON, ts, rng)

    def one(bssid, rssi=-60, location=loc, timestamp=ts, ssid="edge"):
        r = {"ssid": ssid, "bssid": bssid, "scantime": timestamp, "rssi": rssi, "level": 2}
        return _scan_doc([r], location, timestamp, model="EdgeCase")

    return [
        one("AA-BB-CC-00-11-22", rssi=-55),                          # kept: hyphen/upper normalized
        one("00:00:00:00:00:00"),                                    # all-zero MAC
        one("ff:ff:ff:ff:ff:ff"),                                    # broadcast MAC
        one("zz:11:22:33:44:55"),                                    # not a MAC
        one("11:22:33:44:55:66", rssi=-120),                         # RSSI below range
        one("11:22:33:44:55:67", rssi=10),                           # RSSI above range
        one("11:22:33:44:55:68", location=dict(loc, latitude=95.0)),  # bad latitude
        one("11:22:33:44:55:69", location=dict(loc, accuracy=200.0)),  # GPS accuracy gate
        one("11:22:33:44:55:6a", location=dict(loc, accuracy=None)),  # kept: NULL accuracy passes
        one("11:22:33:44:55:6b", timestamp=now_ms + 2 * DAY_MS),     # future
        one("11:22:33:44:55:6c", timestamp=now_ms - 400 * DAY_MS),   # older than 365 days
        one("00:23:6C:11:22:33", rssi=-45),                          # hotspot OUI (EXCLUDE)
        one("22:33:44:55:66:77", ssid="nul\x00ssid  "),              # kept: ssid cleaned
        _scan_doc([], loc, ts, model="EdgeCase"),                    # empty results array
    ]


def _malformed_lines(k: int) -> list[str]:
    kinds = [
        "!!!not-base64!!!",
        base64.b64encode(b"plain bytes, not gzip").decode(),
        frame_line("{not json"),
        frame_line("[1, 2, 3]"),
        frame_line('{"osVersion": "14"}'),   # parses; no rows
        frame_line(json.dumps({"a": 1}))[:-12],  # truncated gzip stream
        "",
        " \t ",
    ]
    return [kinds[i % len(kinds)] for i in range(k)]


def write_raw_zone(
    zone: str, city: City, seed: int, n_docs: int, n_files: int, now_ms: int,
    radius_m: float = 70.0,
) -> dict:
    """Write ``n_files`` raw line files; return the counts a correct ingest yields."""
    rng = random.Random(seed * 7919 + 11)
    nprng = np.random.default_rng([seed, 2])
    xs = nprng.uniform(0, city.side_m, n_docs)
    ys = nprng.uniform(0, city.side_m, n_docs)
    lats, lons = to_latlon(xs, ys)
    docs = []
    for i in range(n_docs):
        ts = now_ms - rng.randint(60_000, 30 * DAY_MS)
        idx, dist = city.near(xs[i], ys[i], radius_m)
        rssi = rssi_at(dist, city.freq[idx], nprng.normal(0, 2.0, len(idx)))
        if len(idx) and rng.random() < 0.01:
            rssi[rng.randrange(len(idx))] = -110  # out-of-range reading
        loc = _location(lats[i], lons[i], ts, rng)
        results = [
            {"ssid": f"net-{j % 997}", "bssid": city.macs[j], "scantime": ts,
             "rssi": int(r), "level": 1 + int(r > -80) + int(r > -65)}
            for j, r in zip(idx.tolist(), rssi.tolist())
        ]
        events = []
        if results and rng.random() < 0.25:
            k = int(np.argmax(rssi))
            j = int(idx[k])
            events.append({
                "timestamp": ts + 500, "eventId": f"evt-{seed}-{i}", "eventType": "CONNECTED",
                "isCaptive": False, "returnedIP": "10.0.0.2",
                "wifiConnectedInfo": {
                    "bssid": city.macs[j].upper().replace(":", "-"),
                    "ssid": f"net-{j % 997}", "numOfScanResults": len(results),
                    "linkSpeed": rng.choice([40, 120, 351]), "frequency": int(city.freq[j]),
                    "rssi": int(rssi[k]), "capabilities": "[WPA2-PSK-CCMP]",
                    "centerFreq0": int(city.freq[j]), "centerFreq1": 0, "channelWidth": 20,
                    "operatorFriendlyName": None, "venueName": None,
                    "is80211mcResponder": False, "isPasspointNetwork": False,
                },
                "location": loc,
            })
        docs.append(_scan_doc(results, loc, ts, events=events))
    docs.extend(_edge_docs(now_ms, rng))

    keys: set = set()
    lines: list[str] = []
    rows_flat = 0
    for d in docs:
        keys |= _doc_keys(d, now_ms)
        rows_flat += _n_rows(d)
        line = frame_line(json.dumps(d, separators=(",", ":")))
        lines.append(line)
        if rng.random() < 0.02:  # duplicate delivery of the same record
            lines.append(line)
            rows_flat += _n_rows(d)
    malformed = _malformed_lines(max(8, n_docs // 100))
    for m in malformed:
        lines.insert(rng.randrange(len(lines) + 1), m)

    os.makedirs(zone, exist_ok=True)
    for f in range(n_files):
        with open(os.path.join(zone, f"part-{f:03d}.txt"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines[f::n_files]) + "\n")
    return {
        "lines": len(lines),
        "docs": len(lines) - len(malformed),
        "rows_flattened": rows_flat,
        "rows": len(keys),
    }


# ---------------------------------------------------------------------------
# measurements table + prior state (localize)
# ---------------------------------------------------------------------------

TIERS = ((0.15, 5, 20), (0.30, 20, 50), (0.30, 50, 100), (0.25, 100, 160))


def make_measurements(city: City, seed: int, now_ms: int) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """AP-centric measurement rows, the true AP table, and a prior AP state.

    Returns (measurements, truth[bssid, latitude, longitude, kind],
    prior[bssid, latitude, longitude, p_var_m2]). ``kind`` is ``ap``,
    ``hotspot`` (wide spread or hotspot SSID) or ``relocated``.
    """
    rng = np.random.default_rng([seed, 3])
    n = len(city)
    u = rng.random(n)
    bounds = np.cumsum([t[0] for t in TIERS])
    tier = np.searchsorted(bounds, u, side="right").clip(0, len(TIERS) - 1)
    counts = np.array([rng.integers(TIERS[t][1], TIERS[t][2]) for t in tier])
    kind = np.array(["ap"] * n, dtype=object)
    hot = rng.choice(n, size=max(2, n // 100), replace=False)
    kind[hot] = "hotspot"
    big = np.nonzero((counts >= 100) & (kind == "ap"))[0]
    relocated = int(big[0]) if len(big) else int(np.nonzero(kind == "ap")[0][0])
    counts[relocated] = max(counts[relocated], 100)
    kind[relocated] = "relocated"
    true_x, true_y = city.x.copy(), city.y.copy()
    true_y[relocated] += 600.0  # the AP moved 600 m north half-way through the window

    t0, t1 = now_ms - 30 * DAY_MS, now_ms - 1_000
    cols: dict[str, list] = {k: [] for k in (
        "bssid", "measurement_timestamp", "x", "y", "rssi", "frequency", "ssid",
        "connection_status", "location_accuracy", "altitude",
    )}
    for i in range(n):
        c = int(counts[i])
        spread = 2000.0 if kind[i] == "hotspot" and i % 2 == 0 else 40.0
        out = rng.random(c) < 0.05
        r = np.where(out, rng.uniform(400, 1600, c), np.abs(rng.normal(0, spread, c)))
        th = rng.uniform(0, 2 * math.pi, c)
        ts = np.sort(rng.integers(t0, t1, c))
        cx = np.full(c, city.x[i])
        cy = np.full(c, city.y[i])
        if kind[i] == "relocated":
            cy[c // 2:] = true_y[i]
        connected = rng.random(c) < 0.2
        rssi = rssi_at(np.maximum(r, 2.0), np.full(c, city.freq[i]), rng.normal(0, 2.0, c))
        ssid = f"AndroidAP_{i:04d}" if kind[i] == "hotspot" and i % 2 == 1 else f"net-{i % 997}"
        cols["bssid"] += [city.macs[i]] * c
        cols["measurement_timestamp"] += ts.tolist()
        cols["x"] += (cx + r * np.cos(th)).tolist()
        cols["y"] += (cy + r * np.sin(th)).tolist()
        cols["rssi"] += rssi.tolist()
        cols["frequency"] += np.where(connected, city.freq[i], -1).tolist()
        cols["ssid"] += [ssid] * c
        cols["connection_status"] += np.where(connected, "CONNECTED", "SCAN").tolist()
        cols["location_accuracy"] += np.round(rng.uniform(5, 60, c), 3).tolist()
        cols["altitude"] += np.round(10.0 + rng.uniform(-2, 2, c), 3).tolist()

    m = pd.DataFrame(cols)
    m["latitude"], m["longitude"] = to_latlon(m.pop("x").to_numpy(), m.pop("y").to_numpy())
    m["frequency"] = m["frequency"].astype("Int32").mask(m["frequency"] < 0)
    m["rssi"] = m["rssi"].astype("int32")
    m["quality_weight"] = np.where(m["connection_status"] == "CONNECTED", 2.0, 1.0)
    m["event_id"] = [f"{t}:{b}" for t, b in zip(m["measurement_timestamp"], m["bssid"])]
    m["id"] = m["event_id"] + "/" + m["connection_status"]
    m["ingestion_timestamp"] = pd.to_datetime(m["measurement_timestamp"], unit="ms")
    m["data_version"] = "2"
    m["processing_batch_id"] = f"bench-{seed}"

    tlat, tlon = to_latlon(true_x, true_y)
    truth = pd.DataFrame({"bssid": city.macs, "latitude": tlat, "longitude": tlon, "kind": kind})
    # a prior AP state for ~70 % of APs, ~15 m off; the relocated AP's prior
    # is at its old position
    has_prior = rng.random(n) < 0.7
    has_prior[relocated] = True
    plat, plon = to_latlon(city.x + rng.normal(0, 15, n), city.y + rng.normal(0, 15, n))
    prior = pd.DataFrame({
        "bssid": city.macs, "latitude": plat, "longitude": plon, "p_var_m2": np.full(n, 225.0),
    })[has_prior].reset_index(drop=True)
    return m, truth, prior


# ---------------------------------------------------------------------------
# positioning requests
# ---------------------------------------------------------------------------


def physics_valid(rssi: list[float], freq: list[int]) -> bool:
    """The engine's signal-physics gate on one request's scans."""
    if any(s > -30.0 or s < -100.0 for s in rssi):
        return False
    for f in set(freq):
        grp = [s for s, g in zip(rssi, freq) if g == f]
        mx, mn = max(grp), min(grp)
        if mx > -50.0 and mx - mn > 45.0 and not (mx == -30.0 and mn == -100.0):
            return False
    return True


def make_requests(
    city: City, seed: int, n: int, prefix: str, unknown_frac: float = 0.1,
    bad_frac: float = 0.01, radius_m: float = 90.0,
) -> tuple[list[dict], pd.DataFrame]:
    """``n`` requests of 1-20 scans; returns (requests, truth).

    truth columns: request_id, latitude, longitude, macs (tuple of scanned
    MACs), physics_ok. A request is answerable iff physics_ok and one of its
    MACs is in the AP table it is positioned against.
    """
    rng = np.random.default_rng([seed, 4, len(prefix)])
    xs = rng.uniform(0, city.side_m, n)
    ys = rng.uniform(0, city.side_m, n)
    lats, lons = to_latlon(xs, ys)
    reqs, macs_col, ok_col = [], [], []
    for i in range(n):
        idx, dist = city.near(xs[i], ys[i], radius_m)
        k = int(rng.integers(1, 21))
        idx, dist = idx[:k], dist[:k]
        if len(idx) == 0:
            idx, dist = city.near(xs[i], ys[i], 10 * radius_m)
            idx, dist = idx[:1], dist[:1]
        freq = city.freq[idx]
        rssi = rssi_at(dist, freq, rng.normal(0, 2.0, len(idx))).astype(float).tolist()
        macs = [city.macs[j] for j in idx.tolist()]
        freq = [int(f) for f in freq]
        u = rng.random()
        if u < unknown_frac:  # a scan of an AP the table does not know
            macs.append(f"0b:{i >> 16 & 255:02x}:{i >> 8 & 255:02x}:{i & 255:02x}:00:01")
            rssi.append(-80.0)
            freq.append(2437)
            if u < unknown_frac / 10:  # nothing known at all
                macs, rssi, freq = macs[-1:], rssi[-1:], freq[-1:]
        elif u < unknown_frac + bad_frac:  # a reading the physics gate rejects
            rssi[0] = -20.0
        scans = [
            {"macAddress": m, "signalStrength": s, "frequency": f, "ssid": "net",
             "linkSpeed": None, "channelWidth": None}
            for m, s, f in zip(macs, rssi, freq)
        ][:20]
        reqs.append({
            "requestId": f"{prefix}{i:06d}", "client": "bench", "application": "perfbench",
            "calculationDetail": False, "wifiScanResults": scans,
        })
        macs_col.append(tuple(s["macAddress"] for s in scans))
        ok_col.append(physics_valid([s["signalStrength"] for s in scans],
                                    [s["frequency"] for s in scans]))
    truth = pd.DataFrame({
        "request_id": [r["requestId"] for r in reqs], "latitude": lats, "longitude": lons,
        "macs": macs_col, "physics_ok": ok_col,
    })
    return reqs, truth


def write_json_lines(path: str, records: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in records:
            fh.write(json.dumps(r, separators=(",", ":")) + "\n")


def ap_dimension(city: City) -> pd.DataFrame:
    """The true AP positions in the wifi_access_points layout (serving)."""
    n = len(city)
    return pd.DataFrame({
        "mac_addr": city.macs, "version": "1", "latitude": city.lat, "longitude": city.lon,
        "altitude": 10.0, "horizontal_accuracy": 10.0, "vertical_accuracy": 5.0,
        "confidence": 0.8, "ssid": [f"net-{i % 997}" for i in range(n)],
        "frequency": city.freq.astype("int32"), "vendor": city.vendor, "status": "active",
        "geohash": None,
    })
