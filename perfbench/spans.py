"""Span recorder for the traced run, and Spark runtime counters read
from outside the program.

Spark is lazy, so a span around a call that returns a DataFrame would
time plan building only. In the traced run every wrapped call's
returned DataFrame is persisted and counted inside its span, so the
span holds the work of that layer (the untraced run keeps the fused
DAG). Every Spark job launched inside a span carries the span's job
group, so jobs, tasks, shuffle, spill, executor run time and GC can be
attributed to spans through the status tracker and the JVM status
store.

Wrapping replaces a module attribute, at the place the caller looks
it up: ``plans`` modules bind operator names at import, so the
operator used by ``plans.e1_pipeline`` is patched in that module's
namespace, not in the operator's home module.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and
    written out by :meth:`dump` when the run ends. Disabled, every
    method is a pass-through and nothing is patched."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._persisted: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []
        self._muted = 0

    # --- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._muted:
            yield {}
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "group": f"span-{idx}",
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    @contextlib.contextmanager
    def muted(self):
        """Wrapped calls inside run unwrapped (no spans, no forcing)."""
        self._muted += 1
        try:
            yield
        finally:
            self._muted -= 1

    def force(self, df: DataFrame, rec: dict) -> None:
        """Materialize ``df`` inside the current span: persist + count
        builds every column of the cached relation, so joins cannot be
        pruned away the way a bare ``count()`` lets Catalyst do."""
        df.persist(StorageLevel.MEMORY_AND_DISK)
        rec["rows"] = df.count()
        self._persisted.append(df)

    # --- wrapping ----------------------------------------------------------

    def wrap(self, module, attr: str, name: str, force: bool = True, force_arg: str | None = None):
        """Patch ``module.attr`` with a spanned version. ``force`` makes
        the returned DataFrame materialize in the span; ``force_arg``
        names a span that first materializes the call's first argument
        (the frame the previous, unwrappable stage produced)."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if self._muted:
                return orig(*args, **kwargs)
            if force_arg is not None and args and isinstance(args[0], DataFrame):
                with self.span(force_arg) as rec:
                    self.force(args[0], rec)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if force and isinstance(out, DataFrame):
                    self.force(out, rec)
                return out

        setattr(module, attr, spanned)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def end_op(self) -> None:
        """Release the frames forced during the op."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # --- attribution ------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children
        cover (children run sequentially on the one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[i] for i, s in enumerate(self.spans)]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s, st in zip(self.spans, selfs):
                fh.write(json.dumps({**s, "self": st}) + "\n")


class SparkCounters:
    """Jobs, tasks, shuffle write, spill, executor run time and GC time
    of the jobs in a set of job groups, read from the status tracker and
    the JVM status store after the jobs finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc.statusTracker()

    def collect(self, groups: list[str]) -> dict:
        # wait until the listener bus has applied every event, so the
        # store holds the final metrics of the jobs that just ended
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out = {"jobs": 0, "tasks": 0, "shuffle_write_b": 0, "spill_b": 0, "run_ms": 0, "gc_ms": 0}
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        empty = self.sc._jvm.java.util.ArrayList()
        stages = set()
        for g in groups:
            for job in self._tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = self._tracker.getJobInfo(job)
                stages.update(info.stageIds if info else [])
        for sid in stages:
            attempts = self._store.stageData(sid, False, empty, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["run_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
        return out
