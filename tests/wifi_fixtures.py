"""Deterministic wifi-domain fixtures (FIXTURES.md F1-F4).

Generates raw scan documents clustered around planted AP positions with
distance-consistent RSSI (log-distance model, n=3.0, band-dependent RSSI_ref)
so localization algorithms can recover the planted positions within tolerance.
Seeded — identical across runs.
"""

from __future__ import annotations

import datetime
import json
import math
import random

# Fixed "now" for timestamp-sanity determinism (2026-08-06). Tests that need
# exact filter behavior pass now_ms=lit(NOW_MS); streaming paths use the real
# clock, so this must stay within the 365-day validity window of the run date.
NOW_MS = 1_786_000_000_000

# Planted APs: (bssid, ssid, lat, lon, vendor, status, frequency)
PLANTED_APS = [
    ("00:11:22:33:44:01", "OfficeNet", 40.7580, -73.9855, "cisco", "active", 2437),
    ("00:11:22:33:44:02", "OfficeNet5G", 40.7582, -73.9851, "aruba", "active", 5180),
    ("00:11:22:33:44:03", "CafeWifi", 40.7575, -73.9860, "ubiquiti", "verified", 2412),
    ("00:11:22:33:44:04", "LibraryAP", 40.7590, -73.9845, "ruckus", "warning", 5240),
    ("00:11:22:33:44:05", "HotelGuest", 40.7570, -73.9870, "meraki", "active", 2462),
    ("aa:bb:cc:dd:ee:01", "FarAway", 40.7800, -73.9600, "other", "active", 2437),
]

METERS_PER_DEG = 111_000.0


def _ref_rssi(freq: int) -> float:
    if freq >= 5925:
        return -43.0
    if freq >= 5000:
        return -45.0
    return -40.0


def rssi_at(distance_m: float, freq: int, rng: random.Random, sigma: float = 2.0) -> int:
    d = max(distance_m, 1.0)
    r = _ref_rssi(freq) - 10 * 3.0 * math.log10(d) + rng.gauss(0, sigma)
    return int(max(-99, min(-31, round(r))))


def offset_latlon(lat: float, lon: float, dx_m: float, dy_m: float) -> tuple[float, float]:
    return (
        lat + dy_m / METERS_PER_DEG,
        lon + dx_m / (METERS_PER_DEG * math.cos(math.radians(lat))),
    )


def make_documents(n_docs: int = 40, seed: int = 42) -> list[dict]:
    """Raw scan documents around the planted APs, plus edge-case documents."""
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        # observer walks a small area near the first five APs
        base_lat, base_lon = 40.7580, -73.9855
        olat, olon = offset_latlon(base_lat, base_lon, rng.uniform(-80, 80), rng.uniform(-80, 80))
        ts = NOW_MS - rng.randint(60_000, 86_400_000)
        location = {
            "source": "gps", "latitude": olat, "longitude": olon,
            "altitude": 10.0 + rng.uniform(-2, 2), "accuracy": rng.uniform(5, 60),
            "time": ts, "provider": "fused", "speed": rng.uniform(0, 2),
            "bearing": rng.uniform(0, 360),
        }
        results = []
        for bssid, ssid, alat, alon, _v, _s, freq in PLANTED_APS[:5]:
            dist = math.hypot(
                (olat - alat) * METERS_PER_DEG,
                (olon - alon) * METERS_PER_DEG * math.cos(math.radians(alat)),
            )
            if dist < 300:
                results.append({
                    "ssid": ssid, "bssid": bssid, "scantime": ts,
                    "rssi": rssi_at(dist, freq, rng), "level": rng.randint(1, 4),
                })
        doc = {
            "osVersion": "14", "model": "SM-A536V", "device": "a53x",
            "manufacturer": "samsung", "osName": "Android", "sdkInt": "34",
            "appNameVersion": "scanner/2.1", "dataVersion": "2",
            "wifiConnectedEvents": [],
            "scanResults": [{"timestamp": ts, "mode": "walking", "location": location,
                             "results": results}],
        }
        # ~25% of docs also have a connected event to the strongest AP
        if i % 4 == 0 and results:
            strongest = max(results, key=lambda r: r["rssi"])
            ap = next(a for a in PLANTED_APS if a[0] == strongest["bssid"])
            doc["wifiConnectedEvents"] = [{
                "timestamp": ts + 500, "eventId": f"evt-{i}", "eventType": "CONNECTED",
                "isCaptive": False, "returnedIP": "10.0.0.2",
                "wifiConnectedInfo": {
                    "bssid": ap[0].upper().replace(":", "-"),  # exercise normalization
                    "ssid": ap[1], "numOfScanResults": len(results),
                    "linkSpeed": rng.choice([40, 120, 351]), "frequency": ap[6],
                    "rssi": strongest["rssi"], "capabilities": "[WPA2-PSK-CCMP]",
                    "centerFreq0": ap[6], "centerFreq1": 0, "channelWidth": 20,
                    "operatorFriendlyName": None, "venueName": None,
                    "is80211mcResponder": False, "isPasspointNetwork": False,
                },
                "location": location,
            }]
        docs.append(doc)
    docs.extend(edge_case_documents())
    return docs


def edge_case_documents() -> list[dict]:
    """FIXTURES.md F1 must-cover edge cases driving the stage-1 filters."""
    ts = NOW_MS - 3_600_000
    loc = {"source": "gps", "latitude": 40.75, "longitude": -73.98, "altitude": 5.0,
           "accuracy": 20.0, "time": ts, "provider": "fused", "speed": 0.0, "bearing": 0.0}

    def scan_doc(results, location=loc, timestamp=ts):
        return {
            "osVersion": "14", "model": "EdgeCase", "device": "edge",
            "manufacturer": "acme", "osName": "Android", "sdkInt": "34",
            "appNameVersion": "scanner/2.1", "dataVersion": "2",
            "wifiConnectedEvents": [],
            "scanResults": [{"timestamp": timestamp, "mode": "static",
                             "location": location, "results": results}],
        }

    bad_loc = dict(loc, latitude=95.0)
    far_future = NOW_MS + 86_400_000
    too_old = NOW_MS - 400 * 86_400_000
    return [
        scan_doc([{"ssid": "ok", "bssid": "AA-BB-CC-00-11-22", "scantime": ts, "rssi": -55, "level": 3}]),
        scan_doc([{"ssid": "zeros", "bssid": "00:00:00:00:00:00", "scantime": ts, "rssi": -50, "level": 3}]),
        scan_doc([{"ssid": "bcast", "bssid": "ff:ff:ff:ff:ff:ff", "scantime": ts, "rssi": -50, "level": 3}]),
        scan_doc([{"ssid": "badrssi", "bssid": "11:22:33:44:55:66", "scantime": ts, "rssi": -120, "level": 1}]),
        scan_doc([{"ssid": "posrssi", "bssid": "11:22:33:44:55:67", "scantime": ts, "rssi": 10, "level": 1}]),
        scan_doc([{"ssid": "badloc", "bssid": "11:22:33:44:55:68", "scantime": ts, "rssi": -60, "level": 2}], location=bad_loc),
        scan_doc([{"ssid": "badacc", "bssid": "11:22:33:44:55:69", "scantime": ts, "rssi": -60, "level": 2}],
                 location=dict(loc, accuracy=200.0)),
        scan_doc([{"ssid": "future", "bssid": "11:22:33:44:55:6a", "scantime": far_future, "rssi": -60, "level": 2}],
                 timestamp=far_future),
        scan_doc([{"ssid": "ancient", "bssid": "11:22:33:44:55:6b", "scantime": too_old, "rssi": -60, "level": 2}],
                 timestamp=too_old),
        scan_doc([{"ssid": "hotspot", "bssid": "00:23:6C:11:22:33", "scantime": ts, "rssi": -45, "level": 4}]),
        scan_doc([{"ssid": "nul\x00ssid  ", "bssid": "22:33:44:55:66:77", "scantime": ts, "rssi": -70, "level": 2}]),
        scan_doc([]),  # empty results array
    ]


def documents_as_json_lines(docs: list[dict] | None = None) -> list[str]:
    return [json.dumps(d, separators=(",", ":")) for d in (docs or make_documents())]


def make_access_points() -> list[dict]:
    """FIXTURES.md F3 golden-record rows for the planted APs + status variety."""
    rows = []
    for bssid, ssid, lat, lon, vendor, status, freq in PLANTED_APS:
        rows.append({
            "mac_addr": bssid, "version": "1", "latitude": lat, "longitude": lon,
            "altitude": 10.0, "horizontal_accuracy": 8.0, "vertical_accuracy": 4.0,
            "confidence": 0.7, "ssid": ssid, "frequency": freq, "vendor": vendor,
            "status": status, "geohash": "dr5ru7",
        })
    for i, status in enumerate(["error", "expired", "wifi-hotspot"]):
        rows.append({
            "mac_addr": f"de:ad:be:ef:00:0{i}", "version": "1", "latitude": 40.76,
            "longitude": -73.99, "altitude": None, "horizontal_accuracy": 50.0,
            "vertical_accuracy": None, "confidence": 0.3, "ssid": f"Bad{i}",
            "frequency": 2437, "vendor": "other", "status": status, "geohash": "dr5ru7",
        })
    return rows


def make_measurements(seed: int = 42) -> list[dict]:
    """Per-AP clustered measurement rows for the batch jobs (FIXTURES.md F2):
    - APs with 20-200 rows around a true location, distance-consistent RSSI
    - ~5% planted spatial outliers (is_outlier_truth marks them)
    - one wide-spread "mobile hotspot" BSSID and one SSID-blacklisted BSSID
    - one relocated BSSID (cloud A early, cloud B late, 600 m apart)
    """
    rng = random.Random(seed)
    rows = []

    def add_cloud(bssid, ssid, lat0, lon0, n, t_start, t_end, spread_m=40.0,
                  outlier_frac=0.05, freq=2437, connected_frac=0.2):
        for i in range(n):
            is_outlier = rng.random() < outlier_frac
            r_m = rng.uniform(spread_m * 10, spread_m * 40) if is_outlier else abs(rng.gauss(0, spread_m))
            theta = rng.uniform(0, 2 * math.pi)
            lat, lon = offset_latlon(lat0, lon0, r_m * math.cos(theta), r_m * math.sin(theta))
            ts = rng.randint(t_start, t_end)
            connected = rng.random() < connected_frac
            rows.append({
                "bssid": bssid, "id": f"{bssid}/{ts}/{i}", "event_id": f"e-{bssid}-{i}",
                "measurement_timestamp": ts,
                "latitude": lat, "longitude": lon, "altitude": 10.0 + rng.uniform(-2, 2),
                "location_accuracy": rng.uniform(5, 60),
                "rssi": rssi_at(max(r_m, 2.0), freq, rng),
                "frequency": freq, "ssid": ssid,
                "connection_status": "CONNECTED" if connected else "SCAN",
                "quality_weight": 2.0 if connected else 1.0,
                "ingestion_timestamp": datetime.datetime.fromtimestamp(ts / 1000, datetime.timezone.utc).replace(tzinfo=None),
                "is_global_outlier": None,
                "is_outlier_truth": is_outlier,
            })

    t0, t1 = NOW_MS - 30 * 86_400_000, NOW_MS - 1_000
    tm = (t0 + t1) // 2
    # tiered APs: below-bootstrap, WCL tier, MLE tier, Bayesian tier
    add_cloud("aa:00:00:00:00:10", "TinyAP", 40.7500, -73.9900, 10, t0, t1)
    add_cloud("aa:00:00:00:00:11", "WclAP", 40.7520, -73.9880, 35, t0, t1)
    add_cloud("aa:00:00:00:00:12", "MleAP", 40.7540, -73.9860, 80, t0, t1)
    add_cloud("aa:00:00:00:00:13", "BigAP", 40.7560, -73.9840, 150, t0, t1)
    # mobile hotspot: huge spatial spread
    add_cloud("aa:00:00:00:00:20", "CarWifi", 40.7600, -73.9800, 60, t0, t1,
              spread_m=2000.0, outlier_frac=0.0)
    # SSID-blacklisted
    add_cloud("aa:00:00:00:00:21", "AndroidAP_1234", 40.7610, -73.9810, 25, t0, t1)
    # relocated AP: two tight clouds, 600m apart, disjoint in time
    add_cloud("aa:00:00:00:00:30", "MovedAP", 40.7700, -73.9700, 40, t0, tm - 86_400_000,
              spread_m=25.0, outlier_frac=0.0)
    add_cloud("aa:00:00:00:00:30", "MovedAP", 40.7754, -73.9700, 40, tm + 86_400_000, t1,
              spread_m=25.0, outlier_frac=0.0)
    return rows


# The two seeded positioning corpora of the kernel parity nets, as
# (seed, signals). Broad: every context class, strong spreads, physics edges.
# Weak/duplicate-heavy: the very-weak override and equal-signal pairs (the
# zero-pair-weight rssi_ratio gate) dominate.
RANDOMIZED_CORPORA = [
    (20240815, [-97.5, -95.0, -94.9, -90.0, -85.0, -84.9, -80.0, -70.1,
                -70.0, -69.9, -60.0, -50.0, -45.0, -35.0, -30.0]),
    (977, [-97.0, -97.0, -96.0, -95.0, -95.0, -94.9, -90.0, -90.0,
           -88.0, -70.0, -70.0]),
]


def randomized_positioning_corpus(seed: int, signals: list[float]) -> tuple[list[dict], list[dict]]:
    """(request rows, access-point rows) of one seeded corpus, dense in the
    awkward shapes: NULL altitude / accuracy / confidence / vendor /
    frequency on the AP side, unusable AP statuses, duplicate macs within a
    request, 1-20 scans, boundary signal strengths crossing every context
    class and the physics gate. The corpus's index in ``RANDOMIZED_CORPORA``
    tags its macs and request ids, so corpora can share one AP dimension;
    the tag keeps every corpus's mac order."""
    tag = [c[0] for c in RANDOMIZED_CORPORA].index(seed) + 1
    rng = random.Random(seed)
    vendors = ["cisco", "aruba", "meraki", "ubiquiti", "ruckus", "hpe-aruba",
               "  Cisco  ", "unknown-vendor", None]
    ap_rows = [{
        "mac_addr": f"02:00:{tag:02x}:00:{k // 256:02x}:{k % 256:02x}",
        "version": "1",
        "latitude": 40.75 + rng.uniform(-0.01, 0.01),
        "longitude": -73.98 + rng.uniform(-0.01, 0.01),
        "altitude": None if rng.random() < 0.3 else rng.uniform(0, 50),
        "horizontal_accuracy": None if rng.random() < 0.3 else rng.uniform(3, 40),
        "vertical_accuracy": 4.0,
        "confidence": None if rng.random() < 0.3 else rng.uniform(0.3, 1.0),
        "ssid": "t",
        "frequency": rng.choice([2412, 2437, 5180, 5500, 6100, None]),
        "vendor": rng.choice(vendors),
        "status": rng.choice(["active", "active", "warning", "verified", "expired"]),
        "geohash": None,
    } for k in range(40)]
    macs = [r["mac_addr"] for r in ap_rows]
    requests = []
    for i in range(60):
        chosen = [rng.choice(macs) for _ in range(rng.randint(1, 20))]  # duplicates likely
        scans = [
            {"macAddress": m, "signalStrength": rng.choice(signals),
             "frequency": rng.choice([2437, 5180, None]), "ssid": "t",
             "linkSpeed": None, "channelWidth": None}
            for m in chosen
        ]
        requests.append({"requestId": f"x{tag}_{i}", "client": "t", "application": "t",
                         "calculationDetail": False, "wifiScanResults": scans})
    return requests, ap_rows
