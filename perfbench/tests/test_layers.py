"""Per-layer event-log values are per traced pass, not per run."""

from __future__ import annotations

import json

from perfbench import measure

NAMES = ["operators.transform.jobs", "operators.transform.task_s", "streaming.positioning.task_s"]


def _events(group: str, stage_id: int, run_ms: int, jobs: int) -> list[dict]:
    props = {"spark.jobGroup.id": group}
    evs = [{"Event": "SparkListenerJobStart", "Job ID": stage_id * 10 + j, "Properties": props}
           for j in range(jobs)]
    evs.append({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id},
                "Properties": props})
    evs.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id,
        "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": run_ms}],
    }})
    return evs


def _totals(tmp_path, events: list[dict]) -> dict:
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    return measure.event_log_totals(str(tmp_path))


def test_two_traced_passes_report_the_per_pass_median(tmp_path):
    totals = _totals(tmp_path, [
        *_events("operators.transform#0", 1, 1000, 4),
        *_events("operators.transform#1", 2, 3000, 4),
        *_events("perfbench", 3, 9000, 1),  # untagged work outside any layer
    ])
    got = measure.per_pass_layer_totals(totals, {}, 2, NAMES)
    # one pass ran 4 jobs and 1-3 s of tasks; two passes must not double it
    assert got == {"operators.transform.jobs": 4.0, "operators.transform.task_s": 2.0}


def test_a_pass_without_jobs_in_a_layer_counts_zero(tmp_path):
    totals = _totals(tmp_path, [
        *_events("operators.transform#0", 1, 1000, 1),
        *_events("operators.transform#1", 2, 1000, 1),
        *_events("operators.transform#2", 3, 1000, 1),
    ])
    got = measure.per_pass_layer_totals(totals, {}, 4, NAMES)
    assert got["operators.transform.task_s"] == 1.0
    assert got["operators.transform.jobs"] == 1.0


def test_engine_named_groups_are_renamed(tmp_path):
    totals = _totals(tmp_path, _events("3f1c-run-id", 1, 2500, 3))
    got = measure.per_pass_layer_totals(totals, {"3f1c-run-id": "streaming.positioning#0"}, 1, NAMES)
    assert got == {"streaming.positioning.task_s": 2.5}
