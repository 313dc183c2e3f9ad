"""Trace recorder for the benchmark's traced runs (``--trace 1``).

Spans are recorded around calls that cross the package's module
boundaries. Each boundary name is patched where its caller bound it:
``warehouse.py`` imports ``flatten_frame`` by name, so the patch goes
on ``couchwarehouse_spark.warehouse.flatten_frame``, not on the
defining module. Spans stay in memory; nothing is written until the
run ends.

Spark work is attributed after the run, outside every timed region:
each benchmark op runs in its own job group, and every job's stages
are read back from the driver's status store (it is populated with
the web UI off). Jobs submitted from the streaming thread carry the
stream's own group, so jobs are matched to ops by submission time;
the benchmark has one client thread, so the two agree.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from contextlib import contextmanager

# (owner module or class path, attribute, span name). The owner is
# where the CALLER looks the name up.
BOUNDARIES = (
    ("couchwarehouse_spark.warehouse", "read_changes_feed", "changes.read"),
    ("couchwarehouse_spark.warehouse", "flatten_frame", "document.flatten"),
    ("couchwarehouse_spark.warehouse", "conform_frame", "document.conform"),
    ("couchwarehouse_spark.warehouse", "merge_batch", "upsert.merge_plan"),
    ("couchwarehouse_spark.warehouse:Warehouse", "_process_batch", "warehouse.process_batch"),
    ("couchwarehouse_spark.operators.upsert:CheckpointStore", "write", "upsert.checkpoint_write"),
)
# Bound by name in many plan modules: patched in every module that
# holds the original function object.
SHARED = (
    ("couchwarehouse_spark.catalog", "load_table", "catalog.load_table"),
    ("couchwarehouse_spark.catalog", "register_views", "catalog.register_views"),
)


def _resolve(path: str):
    mod, _, cls = path.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._groups = itertools.count()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "t0": time.time(),
            "t1": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        # Plan modules bind catalog names at import; import them first
        # so the patch below reaches every copy.
        importlib.import_module("couchwarehouse_spark.plans.all")
        for path, attr, name in BOUNDARIES:
            owner = _resolve(path)
            orig = getattr(owner, attr)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        for path, attr, name in SHARED:
            orig = getattr(_resolve(path), attr)
            traced = self._wrap(orig, name)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith("couchwarehouse_spark")
                    and getattr(mod, attr, None) is orig
                ):
                    self._undo.append((mod, attr, orig))
                    setattr(mod, attr, traced)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def op(self, kind: str):
        """One benchmark op: a span of its own plus its own job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{next(self._groups)}", kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- Spark status store ------------------------------------------------------

    def jobs(self) -> list[dict]:
        """Every job the driver still retains, with its stages' totals."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            rec = {
                "id": j.jobId(),
                "t0": sub.get().getTime() / 1000.0,
                "t1": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
            sids = j.stageIds()
            for k in range(sids.size()):
                s = store.lastStageAttempt(sids.apply(k))
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numTasks()
                rec["run_s"] += s.executorRunTime() / 1e3
                rec["cpu_s"] += s.executorCpuTime() / 1e9
                rec["gc_s"] += s.jvmGcTime() / 1e3
                rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out.append(rec)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of an executed DataFrame's query."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def files_read(df) -> int:
    """Files the executed plan's scans read (the scan node's numFiles)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics().get("numFiles")
        if m.isDefined():
            total += int(m.get().value())
    return total


def within(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    return [j for j in jobs if t0 <= j["t0"] <= t1]


def busy_seconds(jobs: list[dict], windows: list[tuple[float, float]]) -> float:
    """Seconds of the windows during which at least one job ran."""
    ivs = sorted((j["t0"], j["t1"] or j["t0"]) for j in jobs)
    merged: list[list[float]] = []
    for a, b in ivs:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    busy = 0.0
    for w0, w1 in windows:
        for a, b in merged:
            busy += max(0.0, min(b, w1) - max(a, w0))
    return busy
