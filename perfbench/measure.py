"""Measurement plumbing: spans, Spark event-log totals and peak RSS.

Spans are recorded by the benchmark around its calls into each engine layer
(name, start, end, parent, run id), kept in memory and written out once at
the end. A layer's self time is its span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. With ``enabled=False`` only the timings a
    caller asks for are kept, and no Spark job groups are set. Enabled, a
    span with a ``group`` tags its Spark jobs ``<group>#<pass_id>``."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.pass_id = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block. ``group`` tags the Spark jobs it starts (traced runs)."""
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.enabled and group and sc is not None:
            sc.setJobGroup(f"{group}#{self.pass_id}", name)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "group": group, "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled and group and sc is not None:
                sc.setJobGroup("perfbench", "untagged")

    def mark(self) -> int:
        return len(self.spans)

    def durations(self, since: int = 0) -> dict[str, float]:
        """Total duration per span name, over spans recorded after ``since``."""
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Total self time per span name, over spans recorded after ``since``."""
        child = [0.0] * len(self.spans)
        for s in self.spans[since:]:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i in range(since, len(self.spans)):
            s = self.spans[i]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per Spark job group: jobs, task seconds, shuffle-write and spill bytes,
    summed over completed stages, from Spark's JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    out.setdefault(_group(ev), _zero())["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    # a stage a later job reuses is listed in that job too, but
                    # is submitted (and billed) once, under the group that ran it
                    stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = out.setdefault(stage_group.get(info["Stage ID"], "untagged"), _zero())
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    g["task_s"] += float(acc.get("internal.metrics.executorRunTime", 0)) / 1000.0
                    g["shuffle_write_bytes"] += float(acc.get("internal.metrics.shuffle.write.bytesWritten", 0))
                    g["spill_bytes"] += float(acc.get("internal.metrics.memoryBytesSpilled", 0)) + float(
                        acc.get("internal.metrics.diskBytesSpilled", 0)
                    )
    return out


def per_pass_layer_totals(
    totals: dict[str, dict[str, float]], groups: dict[str, str], passes: int, names: list[str]
) -> dict[str, float]:
    """``<layer>.<total>`` for every name in ``names``: the median over
    ``passes`` traced passes of the event-log totals of job group
    ``<layer>#<pass>`` (a pass with no jobs in a group counts 0). ``groups``
    renames job groups the engine sets itself."""
    per_pass: dict[str, list[float]] = {}
    for group, t in totals.items():
        layer, _, k = groups.get(group, group).rpartition("#")
        if not layer or not k.isdigit() or int(k) >= passes:
            continue
        for total, v in t.items():
            key = f"{layer}.{total}"
            if key in names:
                per_pass.setdefault(key, [0.0] * passes)[int(k)] += v
    return {key: statistics.median(vs) for key, vs in per_pass.items()}


def _group(ev: dict) -> str:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"


def _zero() -> dict[str, float]:
    return {"jobs": 0.0, "task_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM and the
    Python workers it forks) on a background thread; ``peak_mb`` is the
    highest sum seen."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _tree(self) -> list[int]:
        kids = _children()
        todo, seen = [self.root_pid], []
        while todo:
            p = todo.pop()
            seen.append(p)
            todo.extend(kids.get(p, []))
        return seen

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self._tree()))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
