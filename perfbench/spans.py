"""Spans around calls into the program's layers.

A span records name, start, end, parent and run id, plus counters the
benchmark sets at the boundary. When the tracer is on, each span runs
its Spark jobs under its own job group; at span exit the group's jobs
are resolved to stages and the stages' executor metrics are summed
from Spark's status store. The package itself is not touched.

Spans stay in memory; ``write`` dumps them as JSON lines at exit.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

STAGE_KEYS = ("run_s", "cpu_s", "shuffle_bytes", "spill_bytes", "gc_s", "jobs", "tasks")


class Tracer:
    """Records spans. ``enabled=False`` gives a tracer whose spans cost
    one dict allocation and record nothing."""

    def __init__(self, spark=None, run_id: str = "", enabled: bool = True):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext if (enabled and spark is not None) else None
        self._cores = self._sc.defaultParallelism if self._sc else 1

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span that ran before the tracer existed."""
        if self.enabled:
            self.spans.append({"run": self.run_id, "id": len(self.spans), "name": name,
                               "parent": None, "counts": {}, "start": start, "end": end})

    @contextlib.contextmanager
    def span(self, name: str):
        """Yields the span's counter dict; set counters on it inside."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None, "counts": counts}
        group = f"{self.run_id}-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc:
            self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc:
                if parent:
                    self._sc.setJobGroup(f"{self.run_id}-{parent['id']}", parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                rec["stage"] = self._stage_metrics(group)

    def _stage_metrics(self, group: str) -> dict:
        """Executor metrics summed over every stage of the group's jobs.
        Waits for the listener bus first, so finished stages are in the
        status store."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            s = store.lastStageAttempt(sid)
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["tasks"] += s.numCompleteTasks()
        return out

    # -- reduction -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Per span name, the median over its calls of: self time
        (``<name>_s``), each stage metric (``<name>.<key>``) and
        ``<name>.core_util`` (executor run time ÷ wall × cores); plus
        the median of every counter set on the spans."""
        selfs = self.self_times()
        by_name: dict[str, dict[str, list[float]]] = {}
        for s in self.spans:
            vals = by_name.setdefault(s["name"], {})
            vals.setdefault(f"{s['name']}_s", []).append(selfs[s["id"]])
            st = s.get("stage")
            if st is not None:
                wall = s["end"] - s["start"]
                for k in STAGE_KEYS:
                    vals.setdefault(f"{s['name']}.{k}", []).append(st[k])
                vals.setdefault(f"{s['name']}.core_util", []).append(
                    st["run_s"] / (wall * self._cores) if wall > 0 else 0.0)
            for k, v in s["counts"].items():
                vals.setdefault(k, []).append(float(v))
        out = {}
        for vals in by_name.values():
            for k, xs in vals.items():
                out[k] = statistics.median(xs)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
