"""A wrong positioning output must count as failed operations."""

from __future__ import annotations

import pandas as pd

from perfbench import gen
from perfbench.workloads import _check_positions


def _case():
    city = gen.City(5, 100)
    _reqs, truth = gen.make_requests(city, 5, 200, "q")
    known = set(city.macs)
    answerable = truth[truth["physics_ok"] & truth["macs"].map(lambda ms: any(m in known for m in ms))]
    right = answerable[["request_id", "latitude", "longitude"]].reset_index(drop=True)
    unanswerable = truth[~truth["request_id"].isin(answerable["request_id"])]
    return truth, known, right, unanswerable


def test_correct_output_has_no_failures():
    truth, known, right, _ = _case()
    wrong, err, answered = _check_positions(right, truth, known)
    assert wrong == 0 and err == 0.0 and answered == len(right)


def test_planted_wrong_outputs_are_failures():
    truth, known, right, unanswerable = _case()
    assert len(unanswerable) > 0
    planted = {
        "missing answer": right.iloc[1:],
        "duplicate answer": pd.concat([right, right.iloc[:1]]),
        "answer without position": right.assign(latitude=[None] + list(right["latitude"][1:])),
        "answer to an unanswerable request": pd.concat(
            [right, unanswerable[["request_id", "latitude", "longitude"]].iloc[:1]]
        ),
    }
    for name, out in planted.items():
        wrong, _err, _n = _check_positions(out.reset_index(drop=True), truth, known)
        assert wrong >= 1, name


def test_wrong_position_raises_the_error():
    truth, known, right, _ = _case()
    moved = right.assign(latitude=right["latitude"] + 0.01)  # ~1.1 km north
    _wrong, err, _n = _check_positions(moved, truth, known)
    assert err > 1000.0
