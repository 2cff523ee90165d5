"""The generator is a pure function of (seed, now_ms)."""

from __future__ import annotations

import os

from perfbench import gen

NOW_MS = gen.day_floor_ms(1_790_000_000_000)


def _zone_bytes(root: str, seed: int) -> dict[str, bytes]:
    zone = os.path.join(root, f"zone-{seed}-{len(os.listdir(root))}")
    gen.write_raw_zone(zone, gen.City(seed, 100), seed, 200, 4, NOW_MS)
    out = {}
    for name in sorted(os.listdir(zone)):
        with open(os.path.join(zone, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_raw_zone_same_seed_same_bytes(tmp_path):
    assert _zone_bytes(str(tmp_path), 7) == _zone_bytes(str(tmp_path), 7)


def test_raw_zone_other_seed_other_bytes(tmp_path):
    assert _zone_bytes(str(tmp_path), 7) != _zone_bytes(str(tmp_path), 8)


def test_tables_and_requests_follow_the_seed():
    def draw(seed):
        city = gen.City(seed, 60)
        meas, truth, prior = gen.make_measurements(city, seed, NOW_MS)
        reqs, req_truth = gen.make_requests(city, seed, 50, "q")
        return meas, truth, prior, reqs, req_truth

    a, b, c = draw(3), draw(3), draw(4)
    for x, y in zip(a, b):
        assert x == y if isinstance(x, list) else x.equals(y)
    assert not a[0].equals(c[0])
    assert a[3] != c[3]


def test_raw_zone_expectation_counts_planted_cases(tmp_path):
    city = gen.City(1, 100)
    expect = gen.write_raw_zone(str(tmp_path / "z"), city, 1, 300, 4, NOW_MS)
    # malformed lines are not documents, and stage 1 + dedup drop rows
    assert expect["docs"] < expect["lines"]
    assert 0 < expect["rows"] < expect["rows_flattened"]


def test_requests_stay_within_scan_bounds():
    _reqs, truth = gen.make_requests(gen.City(2, 200), 2, 300, "q")
    sizes = truth["macs"].map(len)
    assert sizes.min() >= 1 and sizes.max() <= 20
    assert not truth["physics_ok"].all()  # planted physics-gate failures
