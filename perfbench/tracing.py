"""Spans recorded around the benchmark's calls into each layer, and the
reducer that turns a Spark event log into per-span Spark metrics.

A span is ``(name, start, end, parent, run_id)``. Spans are kept in memory
and written out once, when the run ends. While a span is open every Spark
job it starts carries the span's index as its job group, so the reducer can
charge each job, stage and task of the event log to the span that caused it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when ``sc`` (a SparkContext) is given; otherwise every
    ``span`` is a no-op, so untraced runs pay nothing for it."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent, "run_id": self.run_id}
        )
        self._open.append(idx)
        self.sc.setJobGroup(str(idx), name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(str(self._open[-1]), self.spans[self._open[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_ZERO = {
    "jobs": 0,
    "stages": 0,
    "tasks": 0,
    "task_s": 0.0,
    "gc_s": 0.0,
    "shuffle_write_mb": 0.0,
    "shuffle_records": 0,
    "spill_mb": 0.0,
    "join_rows": 0,
}


def reduce_event_log(path: str) -> dict:
    """Spark metrics per job group, from an uncompressed JSON-lines event log.

    Returns ``{group: {...}, ...}`` where each value holds ``jobs``,
    ``stages``, ``tasks``, ``task_s`` (executor run time), ``gc_s``,
    ``shuffle_write_mb``, ``shuffle_records``, ``spill_mb`` (memory and
    disk), ``join_rows`` (SQL "number of output rows" of join operators) and
    ``task_skew`` (max over median task time of the group's largest stage).
    Jobs without a group are reported under ``""``.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: dict(_ZERO))
    join_accums: set[int] = set()
    task_times: dict[int, list[float]] = defaultdict(list)
    stages_seen: dict[str, set[int]] = defaultdict(set)

    def scan_plan(node: dict) -> None:
        if "Join" in node.get("nodeName", ""):
            for m in node.get("metrics", ()):
                if m.get("name") == "number of output rows":
                    join_accums.add(int(m["accumulatorId"]))
        for child in node.get("children", ()):
            scan_plan(child)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(int(sid), group)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                scan_plan(ev.get("sparkPlanInfo") or {})
            elif kind == "SparkListenerTaskEnd":
                sid = int(ev["Stage ID"])
                g = groups[stage_group.get(sid, "")]
                stages_seen[stage_group.get(sid, "")].add(sid)
                tm = ev.get("Task Metrics") or {}
                run_s = tm.get("Executor Run Time", 0) / 1e3
                task_times[sid].append(run_s)
                g["tasks"] += 1
                g["task_s"] += run_s
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                g["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    if int(acc.get("ID", -1)) in join_accums:
                        g["join_rows"] += int(acc.get("Update", 0) or 0)
    for group, sids in stages_seen.items():
        groups[group]["stages"] = len(sids)
        largest = max(sids, key=lambda s: sum(task_times[s]))
        times = task_times[largest]
        med = statistics.median(times)
        groups[group]["task_skew"] = max(times) / med if med > 0 else 1.0
    for g in groups.values():
        g.setdefault("task_skew", 1.0)
    return dict(groups)
