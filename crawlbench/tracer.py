"""Spans around the crawl loop's public calls, with Spark stage metrics.

Each span runs its Spark jobs under its own job group; after a round the
tracer waits for the listener bus to drain and reads, per group,
``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(sid)``. Spans live in memory and are
written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Spark stage fields summed per span: (metric suffix, StageData getter, scale)
STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),  # ms
    ("executor_cpu_s", "executorCpuTime", 1e-9),  # ns
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("shuffle_read_mb", "shuffleReadBytes", 1e-6),
    ("spill_mb", "memoryBytesSpilled", 1e-6),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []  # closed spans whose stages are unread

    @contextmanager
    def span(self, name: str, round_no: int):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "round": round_no,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"crawlbench-{sid}", "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._pending.append(rec)

    def wrap(self, fn, name: str, round_of, on_result=None):
        """``fn`` with a span around every call; ``round_of()`` gives the id."""
        def traced(*args, **kwargs):
            with self.span(name, round_of()) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out
        return traced

    def harvest(self, timeout_ms: int = 10_000) -> None:
        """Attach stage metrics to every closed span not yet harvested."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(timeout_ms)
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        for rec in self._pending:
            stage = {k: 0.0 for k, _, _ in STAGE_FIELDS}
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(st)
                    except Py4JJavaError:  # skipped stage: never ran, no metrics
                        continue
                    tasks += sd.numCompleteTasks()
                    for k, getter, scale in STAGE_FIELDS:
                        stage[k] += getattr(sd, getter)() * scale
            rec["jobs"], rec["tasks"], rec["stage"] = len(jobs), tasks, stage
        self._pending = []

    # -- derived views ---------------------------------------------------
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the union of its children's intervals."""
        rec = self.spans[sid]
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children(sid), key=lambda c: c["start"]):
            s, e = max(c["start"], rec["start"]), min(c["end"], rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def inclusive(self, sid: int, value) -> float:
        """``value(span)`` summed over a span and its descendants."""
        return value(self.spans[sid]) + sum(
            self.inclusive(c["id"], value) for c in self.children(sid)
        )

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            d = dict(s, start=s["start"] - t0, end=s["end"] - t0)
            d["self_s"] = self.self_time(s["id"])
            out.append(d)
        with open(path, "w") as f:
            json.dump({"spans": out}, f, indent=1, default=str)
