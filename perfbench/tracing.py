"""Spans around calls into the package's layers, with Spark job attribution.

A :class:`Tracer` keeps spans in memory. Each span sets its own Spark job
group while it is open and restores the parent's group when it closes, so
every job lands in the innermost span that launched it. Job, stage and
task metrics are read from ``SparkContext.statusTracker()`` and the status
store once the operation has finished.

:func:`install` patches the layers' public entry points with span
wrappers and returns an undo callable; the untraced run never calls it, so
it runs the package exactly as shipped.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class Span:
    layer: str
    name: str
    parent: "Span | None"
    group: str
    start: float = 0.0
    end: float = 0.0
    jobs: list = field(default_factory=list)
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it covered by child spans (children
        run sequentially on the driver thread, so they never overlap)."""
        return self.wall - sum(c.wall for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Span recorder. Disabled tracers hand out no spans and touch no
    Spark state."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.stack: list[Span] = []
        self.roots: list[Span] = []
        self._seq = 0
        self._prefix = f"perfbench-{os.getpid()}-"

    def _set_group(self, span: "Span | None") -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        self._seq += 1
        sp = Span(layer, name, parent, f"{self._prefix}{self._seq}")
        self.stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            self._set_group(parent)
            if parent is None:
                self.roots.append(sp)
            else:
                parent.children.append(sp)

    def stage_totals(self, spans) -> StageTotals:
        """Job/stage/task metrics of every job launched inside ``spans``.

        Waits for the listener bus first, so the status store has seen
        the last task of the last stage."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = StageTotals()
        for sp in spans:
            for jid in sp.jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                out.jobs += 1
                for sid in info.stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted from the store
                        continue
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    out.stages += 1
                    out.tasks += st.numCompleteTasks()
                    out.executor_run_s += st.executorRunTime() / 1000.0
                    out.shuffle_bytes += st.shuffleWriteBytes()
                    out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def parquet_files(root: str) -> dict[str, int]:
    """Relative path → size of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


@dataclass
class LakeWrites:
    """Files the traced lake overwrites added, with their row counts."""

    files: int = 0
    bytes: int = 0
    rows: int = 0


def _patch(undo: list, owner, attr: str, make):
    orig = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(orig)(make(orig)))
    undo.append((owner, attr, orig))


def _spanned(tracer: Tracer, layer: str, name: str):
    def make(orig):
        def wrapper(*a, **kw):
            with tracer.span(layer, name):
                return orig(*a, **kw)

        return wrapper

    return make


def install_cdc(tracer: Tracer, lake, writes: LakeWrites):
    """Wrap the CDC layers' public entry points. ``lake`` is the cycle's
    sales lake: ``LakeTable`` calls on it count as the ``lake`` layer,
    calls on any other table (the mart partials) as ``mart_partials``.
    Returns the undo callable."""
    from bigdatapipelinepysparksqlserver_spark import pipelines
    from bigdatapipelinepysparksqlserver_spark.plans.incremental import IncrementalLoader
    from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
    from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
    from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable

    undo: list = []
    for m in ("read", "next_run_id", "previous_cutoff", "purge_failed", "start_run",
              "finish_run", "start_validation", "finish_validation"):
        _patch(undo, RunLedger, m, _spanned(tracer, "ledger", f"ledger.{m}"))
    _patch(undo, IncrementalLoader, "changed_partition_list",
           _spanned(tracer, "incremental.detect", "incremental.changed_partition_list"))
    _patch(undo, IncrementalLoader, "run", _spanned(tracer, "incremental.rebuild", "incremental.run"))
    _patch(undo, pipelines, "reconcile", _spanned(tracer, "reconcile", "reconcile"))
    _patch(undo, IncrementalMart, "refresh", _spanned(tracer, "mart_partials", "mart_partials.refresh"))
    _patch(undo, pipelines.MartPublisher, "write_staging", _spanned(tracer, "mart.stage", "mart.write_staging"))
    _patch(undo, pipelines.MartPublisher, "publish", _spanned(tracer, "mart.publish", "mart.publish"))

    def lake_call(kind: str):
        def make(orig):
            def wrapper(self, *a, **kw):
                if self.path != lake.path:
                    with tracer.span("mart_partials", f"partials.{kind}"):
                        return orig(self, *a, **kw)
                before = parquet_files(self.path) if kind == "overwrite" else None
                with tracer.span(f"lake.{kind}", f"lake.{kind}"):
                    out = orig(self, *a, **kw)
                if before is not None:
                    for rel, size in parquet_files(self.path).items():
                        if rel not in before:
                            writes.files += 1
                            writes.bytes += size
                            writes.rows += pq.ParquetFile(os.path.join(self.path, rel)).metadata.num_rows
                return out

            return wrapper

        return make

    _patch(undo, LakeTable, "overwrite_partitions", lake_call("overwrite"))
    _patch(undo, LakeTable, "drop_partition_values", lake_call("drop"))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
