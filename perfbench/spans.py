"""In-memory spans and the Spark event-log join for the traced run.

Spans nest run > workload > pass > op > {build, action | write}; resets,
output checks and dispatch-floor probes are spans of their own so a pass's
wall time can be split exactly.  An op span's id doubles as its Spark job
group, which is how the event log's job, stage and task records are joined
back to the op.  Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the ``with`` body, nested in the open span."""
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and (name is None or s["name"] == name)]

    @staticmethod
    def dur(span: dict) -> float:
        return span["end"] - span["start"]

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover."""
        child_sum: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_sum[s["parent"]] += self.dur(s)
        return {s["id"]: self.dur(s) - child_sum[s["id"]] for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        out = [{**s, "dur_s": self.dur(s), "self_s": selfs[s["id"]]} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": out}, f, indent=1, default=str)


#: Stage accumulables summed per job group, with the unit scale applied.
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}

GROUP_FIELDS = ("jobs", "build_jobs", "stages", "tasks") + tuple(dict.fromkeys(v[0] for v in _STAGE_METRICS.values()))


def event_log_by_group(event_dir: str) -> dict[str, dict[str, float]]:
    """Parse every Spark event log under ``event_dir`` into per-job-group
    totals: jobs (and the jobs launched while the plan was being built),
    executed stages, their tasks, and the stage-level task metrics."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    if props.get("spark.job.description") == "build":
                        out[group]["build_jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    g["stages"] += 1
                    g["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        m = _STAGE_METRICS.get(acc.get("Name"))
                        if m is not None:
                            g[m[0]] += float(acc.get("Value", 0)) * m[1]
    return dict(out)
