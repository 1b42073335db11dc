"""Spans around the program's public functions, and per-span Spark
counters read back from the status store.

A ``Tracer`` replaces a function at the module attribute its caller
looks up (for example ``ds2_spark.plans.curation.vote_epochs``) with a
wrapper that opens a span, runs the call under the Spark job group
``pb:<span id>``, and persists and counts any DataFrame the call
returns, so lazy work is charged to the layer that defines it. Spans
nested inside a checkpointed stage runner (``lazy_inside``) are not
materialized: the runner requires its transform to stay lazy. Spans
live in memory only; ``uninstall`` puts every original back.

After an operation, ``read_status`` turns the status store's jobs and
stages into plain dicts and ``attribute`` charges each stage to the
span whose job group ran it.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

GROUP_PREFIX = "pb:"
COUNTERS = ("task_s", "shuffle_mb", "spill_mb", "failed_tasks")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    kept: dict[str, tuple] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple] = field(default_factory=list)
    _persisted: list[DataFrame] = field(default_factory=list)
    _lazy_depth: int = 0

    # ------------------------------------------------------------- spans

    def _set_group(self) -> None:
        sc = self.spark.sparkContext
        if self._stack:
            sid = self._stack[-1]
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sid)
        self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def _materialize(self, out) -> None:
        if self._lazy_depth:
            return
        for obj in out if isinstance(out, tuple) else (out,):
            if isinstance(obj, DataFrame):
                obj.persist()
                obj.count()
                self._persisted.append(obj)

    # ----------------------------------------------------------- patches

    def _patch(self, module, attr: str, make) -> None:
        orig = getattr(module, attr)
        setattr(module, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((module, attr, orig))

    def wrap(self, module, attr: str, name, keep: bool = False,
             lazy_inside: bool = False) -> None:
        """Span every call of ``module.attr``. ``name`` is a string or
        a function of the call's arguments; ``keep`` stores the last
        call's (args, result) in ``kept[name]``; ``lazy_inside`` stops
        nested spans from materializing their results."""

        def make(orig):
            def wrapper(*args, **kwargs):
                nm = name(*args, **kwargs) if callable(name) else name
                with self.span(nm):
                    self._lazy_depth += lazy_inside
                    try:
                        out = orig(*args, **kwargs)
                    finally:
                        self._lazy_depth -= lazy_inside
                    self._materialize(out)
                if keep:
                    self.kept[nm] = (args, out)
                return out

            return wrapper

        self._patch(module, attr, make)

    def wrap_factory(self, module, attr: str, name: str) -> None:
        """Span every call of the function that ``module.attr``
        returns (a stage transform built by a factory)."""

        def make(orig):
            def factory(*args, **kwargs):
                inner = orig(*args, **kwargs)

                def staged(*a, **kw):
                    with self.span(name):
                        out = inner(*a, **kw)
                        self._materialize(out)
                    return out

                return staged

            return factory

        self._patch(module, attr, make)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def release(self) -> None:
        """Unpersist what spans persisted and forget the spans."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self.spans.clear()
        self.kept.clear()


# ------------------------------------------------------------- analysis


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (children clipped to the parent, overlaps
    between children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def attribute(jobs: list[dict], stages: list[dict]) -> dict[int | None, dict]:
    """Charge each stage's counters to one span: the job group of the
    lowest-numbered job listing the stage (later jobs list it again
    only as skipped). Jobs outside any span land under ``None``.

    jobs:   [{"job": id, "group": str | None, "stages": [stage ids]}]
    stages: [{"stage": id, "attempt": n, "run_ms", "shuffle_write_bytes",
              "spill_bytes", "failed_tasks"}]
    """
    owner: dict[int, int | None] = {}
    for j in sorted(jobs, key=lambda j: j["job"]):
        g = j["group"]
        sid = int(g[len(GROUP_PREFIX):]) if g and g.startswith(GROUP_PREFIX) else None
        for st in j["stages"]:
            owner.setdefault(st, sid)
    out: dict[int | None, dict] = {}
    for st in stages:
        if st["stage"] not in owner:
            continue
        acc = out.setdefault(
            owner[st["stage"]], {**dict.fromkeys(COUNTERS, 0.0), "stages": []}
        )
        acc["task_s"] += st["run_ms"] / 1000.0
        acc["shuffle_mb"] += st["shuffle_write_bytes"] / 2**20
        acc["spill_mb"] += st["spill_bytes"] / 2**20
        acc["failed_tasks"] += st["failed_tasks"]
        acc["stages"].append(st)
    return out


def task_skew(run_ms: list[float]) -> float:
    """Slowest task over the median task (1.0 for fewer than 2)."""
    if len(run_ms) < 2:
        return 1.0
    xs = sorted(run_ms)
    mid = len(xs) // 2
    med = xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
    return xs[-1] / max(med, 1.0)


# ----------------------------------------------------------- status store


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_status(spark, after_job: int = -1) -> tuple[list[dict], list[dict]]:
    """Jobs newer than ``after_job`` and the stages they list, as
    plain dicts, from ``SparkContext``'s status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after_job:
            continue
        g = j.jobGroup()
        jobs.append({
            "job": j.jobId(),
            "group": g.get() if g.isDefined() else None,
            "stages": [int(x) for x in _seq(j.stageIds())],
        })
    wanted = {st for j in jobs for st in j["stages"]}
    gw = sc._gateway
    stages = []
    for s in _seq(store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )):
        if s.stageId() not in wanted or s.numTasks() == 0:
            continue
        stages.append({
            "stage": s.stageId(),
            "attempt": s.attemptId(),
            "run_ms": float(s.executorRunTime()),
            "shuffle_write_bytes": float(s.shuffleWriteBytes()),
            "spill_bytes": float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            "failed_tasks": float(s.numFailedTasks()),
        })
    return jobs, stages


def stage_task_ms(spark, stage: dict) -> list[float]:
    """Executor run time of each successful task of one stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for t in _seq(store.taskList(stage["stage"], stage["attempt"], 1_000_000)):
        m = t.taskMetrics()
        if m.isDefined() and t.status() == "SUCCESS":
            out.append(float(m.get().executorRunTime()))
    return out


def max_job_id(spark) -> int:
    jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((j.jobId() for j in _seq(jl)), default=-1)
