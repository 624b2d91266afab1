"""Spans around calls into the engine, each with its own Spark job group,
and the per-group aggregation of Spark's stage metrics.

A span records name, start, end and the span that caused it. Spans are
kept in memory and written out when the benchmark ends. Every span sets
its own job group on entry, so each Spark job launched inside it is
attributed to exactly one span (its innermost); a span's inclusive
metrics are the sum over its subtree.

Threads started inside a span (the engine commits tables on a thread
pool) have no span stack of their own; their spans hang under the
innermost open span of the main thread.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

_STAGE_FIELDS = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "tasks",
)


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str, attrs: dict):
        self.id, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.start = self.end = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        outer = stack or self._main_stack
        with self._lock:
            sp = Span(next(self._ids), outer[-1].id if outer else None, name, attrs)
            self.spans.append(sp)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``unwrap_all``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name_of=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span.
        ``name_of(*args, **kwargs)`` names the span (default: ``attr``)."""

        def make(orig):
            def traced(*args, **kwargs):
                with self.span(name_of(*args, **kwargs) if name_of else attr):
                    return orig(*args, **kwargs)
            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def subtree(self, sp: Span, prune: str | None = None) -> list[Span]:
        """``sp`` and its descendants, leaving out any span whose name
        starts with ``prune`` together with everything under it."""
        kids = self.children()
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            if prune and s.name.startswith(prune):
                continue
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def harvest(self) -> dict[str, dict]:
        """Stage metrics per span job group, from Spark's status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        for j in _seq(store.jobsList(None)):
            group = j.jobGroup()
            jobs.append({
                "job_id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stage_ids": _seq(j.stageIds()),
            })
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = []
        for s in _seq(store.stageList(None, False, True, quantiles, None)):
            dist = s.taskMetricsDistributions()
            run_q = (
                [dist.get().executorRunTime().apply(i) for i in range(2)]
                if dist.isDefined() else [0.0, 0.0]
            )
            stages.append({
                "stage_id": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "task_p50_ms": run_q[0],
                "task_max_ms": run_q[1],
            })
        return aggregate_by_group(jobs, stages)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def aggregate_by_group(jobs: list[dict], stages: list[dict]) -> dict[str, dict]:
    """Sum stage metrics per job group.

    A stage that several jobs list (a shuffle map stage reused by a later
    job shows there as skipped) belongs to the job that ran it, taken as
    the lowest job id listing it. Stages that never ran (status SKIPPED)
    carry no metrics and are not counted. ``task_skew`` is max ÷ median
    task time of the group's heaviest stage by executor run time.
    """
    owner: dict[int, dict] = {}
    for job in sorted(jobs, key=lambda j: j["job_id"]):
        for sid in job["stage_ids"]:
            owner.setdefault(sid, job)
    out: dict[str, dict] = {}
    for job in jobs:
        g = out.setdefault(job["group"], _empty_group())
        g["jobs"] += 1
    for st in stages:
        job = owner.get(st["stage_id"])
        if job is None or st["status"] == "SKIPPED":
            continue
        g = out.setdefault(job["group"], _empty_group())
        g["stages"] += 1
        for k in _STAGE_FIELDS:
            g[k] += st[k]
        if st["run_ms"] >= g["_heaviest_run_ms"]:
            g["_heaviest_run_ms"] = st["run_ms"]
            p50 = st["task_p50_ms"]
            g["task_skew"] = st["task_max_ms"] / p50 if p50 > 0 else 1.0
    for g in out.values():
        del g["_heaviest_run_ms"]
    return out


def _empty_group() -> dict:
    g = {k: 0 for k in _STAGE_FIELDS}
    g.update(jobs=0, stages=0, task_skew=1.0, _heaviest_run_ms=-1)
    return g


def sum_groups(groups: dict[str, dict], spans: list[Span]) -> dict:
    """Inclusive metrics of a set of spans (normally one span's subtree)."""
    total = {k: 0 for k in _STAGE_FIELDS}
    total.update(jobs=0, stages=0, task_skew=1.0)
    heaviest = -1
    for sp in spans:
        g = groups.get(sp.group)
        if g is None:
            continue
        for k in _STAGE_FIELDS + ("jobs", "stages"):
            total[k] += g[k]
        if g["run_ms"] > heaviest:
            heaviest, total["task_skew"] = g["run_ms"], g["task_skew"]
    return total
