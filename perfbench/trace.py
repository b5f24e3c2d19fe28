"""Spans around calls into the layers of ``dronedb_spark``, and the Spark
readings attributed to them.

A span covers one call into a layer's public function, made by the
benchmark or by a package function the benchmark called.  Each span runs
under its own Spark job group, so the jobs, stages and tasks it starts
are attributed to it.  Nothing inside the package is edited: while a
traced pass runs, ``Tracer.patched`` rebinds the package's own
module-level names to timing wrappers and restores them afterwards.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# Stage-level counters summed per span: (metric, StageData accessor, scale)
_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("cpu_ms", "executorCpuTime", 1e-6),
    ("run_ms", "executorRunTime", 1),
    ("gc_ms", "jvmGcTime", 1),
    ("input_bytes", "inputBytes", 1),
    ("input_records", "inputRecords", 1),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)
SPARK_COUNTERS = ("jobs", "stages") + tuple(f for f, _, _ in _STAGE_FIELDS)


class Span:
    __slots__ = ("id", "name", "layer", "parent", "op", "start", "end", "group",
                 "build_ms", "plan_ms", "exec_ms", "spark", "extra")

    def __init__(self, sid, name, layer, parent, op):
        self.id, self.name, self.layer, self.parent, self.op = sid, name, layer, parent, op
        self.start = self.end = 0.0
        self.group = f"perfbench-{sid}"
        self.build_ms = self.plan_ms = self.exec_ms = None
        self.spark: dict[str, float] = {}
        self.extra: dict[str, float] = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def plan_phases_ms(df: DataFrame) -> dict[str, float]:
    """Catalyst phase times of the QueryExecution an action ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its child spans cover, in ms."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = (s.end - s.start - covered) * 1000.0
    return out


def _split(s: Span, df: DataFrame, t0: float, t1: float, t2: float) -> None:
    """Three-phase split of a call that built ``df`` in [t0, t1] and ran
    it in [t1, t2]:

    * build_ms: the Python call that returns the DataFrame, less the
      final plan's analysis (which Spark runs eagerly inside it; a
      DataFrame built before the call reads 0),
    * plan_ms: analysis + optimization + planning of the plan the action
      ran, from its QueryExecution tracker,
    * exec_ms: the action's wall time less optimization and planning.
    """
    ph = plan_phases_ms(df)
    s.build_ms = max(0.0, (t1 - t0) * 1000.0 - ph["analysis"])
    s.plan_ms = sum(ph.values())
    s.exec_ms = (t2 - t1) * 1000.0 - ph["optimization"] - ph["planning"]


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so the untraced path runs the same benchmark code."""

    def __init__(self, spark: SparkSession, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.op = None  # id of the benchmark operation in progress

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, layer, parent.id if parent else None, self.op)
        self._next += 1
        self._stack.append(s)
        sc.setJobGroup(s.group, name, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name, False)
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(s)

    def run(self, name: str, layer: str, build):
        """``build()`` returns a DataFrame, which is collected; traced,
        the span gets the build / plan / exec split (see ``_split``)."""
        with self.span(name, layer) as s:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            out = df.collect()
            if s is not None:
                _split(s, df, t0, t1, time.perf_counter())
                s.extra["rows"] = len(out)
        return out

    @contextmanager
    def suspended(self):
        """No spans inside the block: the benchmark's own output checks
        call package functions too, and are not part of the timed work."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # ------------------------------------------------------- spark reads

    def collect_spark(self, spans: list[Span]) -> None:
        """Attach job/stage counters to each span from its job group.
        The listener bus is drained first: the status store only sees a
        finished stage's metrics once its events are processed."""
        if not spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for s in spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            acc = {"jobs": float(len(jobs)), "stages": 0.0}
            acc.update({f: 0.0 for f, _, _ in _STAGE_FIELDS})
            for sid in stages:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran (skipped)
                    continue
                acc["stages"] += 1
                for f, getter, scale in _STAGE_FIELDS:
                    acc[f] += float(getattr(st, getter)()) * scale
            s.spark = acc

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    # ----------------------------------------------------------- patching

    @contextmanager
    def patched(self, targets):
        """Wrap package functions in spans for the duration of the block.

        ``targets`` holds (module or class, attribute, span name, layer,
        materialize, after) entries; ``after(span, args, result)``, when
        given, records extra readings on the span.  Every
        ``dronedb_spark`` module that bound the same function object by
        import is rebound too.  With ``materialize``
        the wrapper runs the returned DataFrame inside the span (an eager
        local checkpoint), so a lazy DataFrame's execution is charged to
        its own layer rather than to whichever caller runs it later; the
        extra checkpoint is part of the measured tracing overhead."""
        if not self.enabled:
            yield
            return
        undo = []
        for owner, attr, name, layer, materialize, after in targets:
            orig = getattr(owner, attr)
            wrapper = self._wrap(orig, name, layer, materialize, after)
            holders = [owner] if isinstance(owner, type) else [
                m for k, m in list(sys.modules.items())
                if k.startswith("dronedb_spark") and m is not None and getattr(m, attr, None) is orig
            ]
            for h in holders:
                undo.append((h, attr, orig))
                setattr(h, attr, wrapper)
        try:
            yield
        finally:
            for h, attr, orig in reversed(undo):
                setattr(h, attr, orig)

    def _wrap(self, fn, name, layer, materialize, after):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as s:
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    t1 = time.perf_counter()
                    checkpointed = out.localCheckpoint(eager=True)
                    _split(s, out, t0, t1, time.perf_counter())
                    out = checkpointed
                if after is not None:
                    after(s, args, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper
