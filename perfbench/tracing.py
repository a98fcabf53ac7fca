"""Span tracer for the benchmark's traced run.

Spans are recorded around calls into the repository's public functions,
from the benchmark's own code: each holds name, start, end, parent span
and operation id, and is kept in memory until the run writes them out.
A span opened with `group=True` tags the Spark jobs it launches with its
own job group, so after an operation ends the tracer can read that
operation's jobs, stages and task metrics from Spark's status store.

The tracer times its own bookkeeping, so the traced run can report what
tracing cost against the time the operations took.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from common import mean

_GROUP = "spark.jobGroup.id"


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    def span(self, name, op=None, parent=None, group=False):
        return contextlib.nullcontext()

    def finish_op(self, op, groups=None):
        pass

    def wrap(self, owner, attr, name):
        pass

    def close(self):
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.own_s = 0.0  # wall time spent in tracer bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None,
             parent: int | None = None, group: bool = False):
        t0 = time.perf_counter()
        stack = self._stack()
        top = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "error": False,
               "op": op or (top["op"] if top else None),
               "parent": parent if parent is not None else (top["id"] if top else None),
               "group": None, "jobs": []}
        prev_group = None
        if group:
            prev_group = self.sc.getLocalProperty(_GROUP)
            rec["group"] = f"{rec['op']}/{sid}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        t1 = time.perf_counter()
        with self._lock:
            self.spans.append(rec)
            self.own_s += t1 - t0
        rec["start"] = t1
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                self.sc.setLocalProperty(_GROUP, prev_group)
            with self._lock:
                self.own_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module or object attribute that callers
        look up at call time) with a spanned twin that tags its Spark jobs
        with its own job group; `close` restores it."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, group=True):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- Spark counters -------------------------------------------------

    def finish_op(self, op: str, groups: list[str] | None = None) -> None:
        """Read the status store for every job group the operation's spans
        opened, plus `groups` (groups Spark itself set, such as a streaming
        query's run id). Call after the operation ends, before ~1000 more
        jobs run (the store's retention)."""
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        counters = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                    "shuffle_write_bytes": 0, "gc_ms": 0, "input_bytes": 0}
        jobs = []
        for rec in [s for s in self.spans if s["op"] == op and s["group"]]:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            jobs += rec["jobs"]
        for group in groups or []:
            jobs += tracker.getJobIdsForGroup(group)
        stages = set()  # a stage reused by a later job is listed by both
        for job in jobs:
            counters["jobs"] += 1
            info = tracker.getJobInfo(job)
            stages.update(info.stageIds if info else [])
        for stage in stages:
            self._add_stage(counters, stage)
        self.ops[op] = counters
        with self._lock:
            self.own_s += time.perf_counter() - t0

    def _add_stage(self, counters: dict, stage_id: int) -> None:
        store = self.sc._jsc.sc().statusStore()
        try:
            data = store.lastStageAttempt(stage_id)
        except Exception:  # evicted or never submitted: nothing ran
            return
        if data.status().toString() == "SKIPPED":
            return
        counters["stages"] += 1
        counters["tasks"] += data.numCompleteTasks()
        counters["failed_tasks"] += data.numFailedTasks()
        counters["shuffle_write_bytes"] += data.shuffleWriteBytes()
        counters["gc_ms"] += data.jvmGcTime()
        counters["input_bytes"] += data.inputBytes()

    # -- summaries ------------------------------------------------------

    def named(self, name: str, ops=None) -> list[dict]:
        """Finished spans called `name`, optionally only those of `ops`."""
        return [s for s in self.spans if s["name"] == name and "end" in s
                and (ops is None or s["op"] in ops)]

    def self_ms(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"] and "end" in s)
        covered, cursor = 0.0, rec["start"]
        for start, end in kids:
            start, end = max(start, cursor), min(end, rec["end"])
            if end > start:
                covered += end - start
                cursor = end
        return (rec["end"] - rec["start"] - covered) * 1000

    def jobs_under(self, rec: dict) -> int:
        return len(rec["jobs"]) + sum(self.jobs_under(s) for s in self.spans
                                      if s["parent"] == rec["id"])

    def session_metrics(self, ops, n: int | None = None) -> dict[str, float]:
        """Status-store counters of the timed `ops`, per operation (or per
        `n` when one recorded op stands for n, as a stream's micro-batches)."""
        counted = [self.ops[op] for op in ops if op in self.ops]
        n = max(1, n if n is not None else len(counted))
        tot = {k: sum(c[k] for c in counted)
               for k in ("jobs", "stages", "tasks", "failed_tasks",
                         "shuffle_write_bytes", "gc_ms", "input_bytes")}
        return {
            "session.jobs_per_op": tot["jobs"] / n,
            "session.stages_per_op": tot["stages"] / n,
            "session.tasks_per_op": tot["tasks"] / n,
            "session.failed_tasks": float(tot["failed_tasks"]),
            "session.shuffle_write_mb_per_op": tot["shuffle_write_bytes"] / n / 2**20,
            "session.gc_ms_per_op": tot["gc_ms"] / n,
            "sources.input_mb_per_op": tot["input_bytes"] / n / 2**20,
        }

    def pagerank_metrics(self, ops) -> dict[str, float]:
        calls = self.named("graphs.pagerank", ops)
        batch = self.named("graphs.pagerank_batch", ops)
        return {
            "graphs.pagerank.calls_per_op": len(calls) / max(1, len(ops)),
            "graphs.pagerank.self_ms": mean([self.self_ms(s) for s in calls]),
            "graphs.pagerank.jobs_per_call": mean([self.jobs_under(s) for s in calls]),
            "graphs.pagerank_batch.self_ms": mean([self.self_ms(s) for s in batch]),
        }

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                if "end" not in s:
                    continue
                fh.write(json.dumps({
                    "id": s["id"], "name": s["name"], "op": s["op"],
                    "parent": s["parent"], "start_ms": (s["start"] - t0) * 1000,
                    "end_ms": (s["end"] - t0) * 1000, "jobs": len(s["jobs"])}) + "\n")

