"""In-memory span recorder for the benchmark's traced runs.

A span wraps one call into a program module. It records name, start,
end, parent span and run id, plus the Spark jobs and stages that ran
inside it: each span opens its own job group (``setJobGroup``) and reads
the group's jobs back from ``statusTracker`` when it closes. Jobs of a
nested span belong to the innermost span; the parent's group is restored
on exit. Spans stay in memory and are written once, at exit.

With ``enabled=False`` a span only times its body, so the untraced run
pays no job-group or status-tracker calls.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Time the body; yields the span record."""
        stack = self._stack()
        rec = {"name": name, "run": self.run_id, "traced": self.enabled,
               "parent": stack[-1]["id"] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        group = f"{self.run_id}:{rec['id']}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.enabled:
                if stack:
                    self.sc.setJobGroup(f"{self.run_id}:{stack[-1]['id']}", stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                rec["jobs"], rec["stages"] = job_and_stage_counts(self.sc, group)

    def named(self, name: str, traced: bool = True) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["traced"] == traced and "end" in s]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                if "end" in s:
                    fh.write(json.dumps({**s, "self_s": selft[s["id"]]}) + "\n")


def job_and_stage_counts(sc, group: str | None) -> tuple[int, int]:
    """Jobs and stages Spark ran under a job group (``None`` = no group)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages
