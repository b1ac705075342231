"""Spans recorded from outside the program, and the Spark-side numbers
attributed to them.

A span wraps one call into a layer's public function.  It records name,
start, end, parent span and run id, plus counts set by the caller.  While
tracing is on, each span also sets a Spark job group named after its id, so
every job, stage and task the call launches can be attributed to it from the
Spark event log once the run ends.  Spans stay in memory; the caller writes
them out with the run record.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **counts):
        """Time the body as span ``name``; a no-op while tracing is off."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "counts": dict(counts),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp["id"])
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is not None:
            group = None if span_id is None else f"{self.run_id}:{span_id}"
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def span_of_group(self, group: str | None) -> int | None:
        if not group or not group.startswith(self.run_id + ":"):
            return None
        return int(group.rsplit(":", 1)[1])


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s last execution,
    from Catalyst's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    it = phases.iterator()
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


_TASK_FIELDS = {
    "run_s": lambda m: m["Executor Run Time"] / 1e3,
    "cpu_s": lambda m: m["Executor CPU Time"] / 1e9,
    "gc_s": lambda m: m["JVM GC Time"] / 1e3,
    "shuffle_write_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "shuffle_read_bytes": lambda m: (
        m["Shuffle Read Metrics"]["Remote Bytes Read"] + m["Shuffle Read Metrics"]["Local Bytes Read"]
    ),
}


def attribute_event_log(path: str, tracer: Tracer) -> dict[int, dict]:
    """Per span id: ``jobs``, ``stages``, ``tasks`` and summed task metrics
    (``run_s``, ``cpu_s``, ``gc_s``, shuffle bytes) of the jobs launched in
    that span's job group, read from a Spark event log file."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[int, set] = defaultdict(set)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sid = tracer.span_of_group(ev.get("Properties", {}).get("spark.jobGroup.id"))
                if sid is None:
                    continue
                out[sid]["jobs"] += 1
                for stage in ev["Stage IDs"]:
                    stage_span.setdefault(stage, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if sid is None or not metrics:
                    continue
                stages_seen[sid].add(ev["Stage ID"])
                out[sid]["tasks"] += 1
                for key, get in _TASK_FIELDS.items():
                    out[sid][key] += get(metrics)
    for sid, stages in stages_seen.items():
        out[sid]["stages"] = len(stages)
    return {sid: dict(v) for sid, v in out.items()}
