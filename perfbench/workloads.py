"""The benchmark's workloads: one closed-loop client each, in this process.

* ``cdc_cycle`` — the scheduled pipeline (``run_pipeline_1 >>
  run_pipeline_2_incremental``) driven through ``PipelineScheduler.on_tick``
  with an injected clock that steps 15 minutes per cycle. Cycles alternate
  between an *append* batch (inserts stamped inside the cycle's window, one
  ``year_month`` rebuilt) and a *restate* batch (the same inserts plus
  updates and deletes spread over the whole history, every ``year_month``
  rebuilt).
* ``queries`` — passes over nine headline queries in a seeded order:
  eight scan-bound ones and ``semantic_dedup``, whose time is mostly eager
  Spark jobs inside ``fn()``. Each execution is built, planned, collected and
  its scoped caches released, after ``spark.catalog.clearCache()``.

Every workload returns a :class:`Result`. Operations that raise or return a
wrong answer are counted as failed and named in ``failures``.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from tracing import LakeWrites, Tracer, install_cdc, parquet_files

# scan-bound headline queries: little work in fn(); time goes to leaf
# scans, execution and result transfer
SCAN_QUERIES = (
    "mart_client_count", "mart_sales_agg", "tpch_q1", "tpch_q3", "tpch_q5",
    "tpch_q18", "asof_attribution", "sessionize",
)
# job-bound headline query: most of its time is eager Spark jobs and
# scoped persists inside fn()
CORPUS_QUERIES = ("semantic_dedup",)
TIMED_QUERIES = SCAN_QUERIES + CORPUS_QUERIES
# headline queries no timed pass runs (a warm-up pass and a timed pass of
# all 19 do not fit the run budget); the smoke run still checks them
# against their oracles
UNTIMED_QUERIES = (
    "bm25_store_probe", "part_copurchase_pagerank", "doc_winnow_span_scrub_apply",
    "dedup_minhash", "decontaminate_spans",
    "dedup_exact", "decontaminate", "text_quality_score",
    "text_repetition_score", "ann_topk_cosine",
)
QUERY_SF = 0.01
SMOKE_SF = 0.001

# 60 days of history is 3 year_months, so a restate cycle rewrites 3 of them
# and an append cycle 1. Cycle cost tracks partitions, not rows: 1,000 days
# (34 year_months) made a restate cycle 29 s and a run 104 s on 4 cores,
# more than a run's share of the evaluation budget.
CDC_SIZE = dict(base_rows=20_000, days=60, clients=2000, products=50,
                inserts=2_000, updates=200, deletes=50)
CDC_SMOKE = dict(base_rows=5_000, days=60, clients=100, products=20,
                 inserts=200, updates=20, deletes=5)

CDC_LAYERS = {  # metric prefix → span layer whose self time it sums
    "ledger.s": "ledger",
    "incremental.detect_s": "incremental.detect",
    "incremental.rebuild_s": "incremental.rebuild",
    "lake.overwrite_s": "lake.overwrite",
    "lake.drop_s": "lake.drop",
    "reconcile.s": "reconcile",
    "mart_partials.refresh_s": "mart_partials",
    "mart.stage_s": "mart.stage",
    "mart.publish_s": "mart.publish",
}
CDC_JOB_LAYERS = {
    "ledger.jobs": "ledger", "reconcile.jobs": "reconcile",
    "mart_partials.jobs": "mart_partials",
}
QUERY_FIELDS = ("build_s", "jobs", "plan_s", "collect_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {}
    for name in CDC_LAYERS:
        units[name] = "s"
    for name in CDC_JOB_LAYERS:
        units[name] = "count"
    units.update({
        "pipelines.self_s": "s", "incremental.partitions": "count",
        "incremental.rows_rewritten": "rows", "incremental.useful_ratio": "ratio",
        "lake.files_written": "count", "lake.bytes_written": "B",
        "lake.write_amp": "ratio", "lake.files_total": "count",
        "cdc.append_cycle_s": "s", "cdc.restate_cycle_s": "s",
        "cdc.changes_per_s": "rows/s", "cdc.lake_bytes_per_row": "B/row",
    })
    for q in TIMED_QUERIES:
        for f in QUERY_FIELDS:
            units[f"{q}.{f}"] = "count" if f == "jobs" else "s"
    units["result_rows"] = "rows"
    units["caching.release_s"] = "s"
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.shuffle_bytes": "B",
        "spark.spill_bytes": "B", "spark.core_busy": "ratio",
    })
    units["trace.coverage"] = "ratio"
    units["trace.overhead_s"] = "s"
    return units


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU clock ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class Stopwatch:
    """Wall time since creation, raw and steal-adjusted.

    On a shared virtual machine the hypervisor hands this machine's CPUs to
    other tenants for a varying share of the time (``steal`` in
    ``/proc/stat``), which stretches every driver-bound step. The adjusted
    time scales the wall time by the share of busy CPU time that was not
    stolen; without steal the two are equal."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = _cpu_ticks()

    def read(self) -> tuple[float, float, float]:
        """(adjusted seconds, wall seconds, stolen share of busy time)."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, _cpu_ticks()))
        share = steal / (busy + steal) if busy + steal else 0.0
        return wall * (1.0 - share), wall, share


@dataclass
class Result:
    """What one workload run measured. Times are steal-adjusted (see
    :class:`Stopwatch`) unless their name says ``wall``."""

    setup_s: float = 0.0
    setup_wall: float = 0.0
    rounds: list = field(default_factory=list)  # time of each round
    rounds_wall: list = field(default_factory=list)
    ops: dict = field(default_factory=dict)  # op kind → list of times
    attempted: int = 0
    failures: list = field(default_factory=list)
    per_layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)

    def add_setup(self, sw: Stopwatch, excluded_wall: float = 0.0) -> None:
        """Add the time since ``sw`` started, less ``excluded_wall``
        seconds of work that is not set-up, to the set-up time."""
        adj, wall, _ = sw.read()
        self.setup_s += (wall - excluded_wall) * adj / wall
        self.setup_wall += wall - excluded_wall

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def op_medians(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.ops.items() if v}

    def op_geomean(self) -> float:
        meds = list(self.op_medians().values())
        return math.exp(sum(math.log(m) for m in meds) / len(meds))


def _load_checker(root: str):
    """``tools/check_correctness.py``: the repository's oracle comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------- queries


class QueryWorkload:
    def __init__(self, spark, root: str, work: str, seed: int, smoke: bool):
        from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

        self.spark = spark
        self.names = TIMED_QUERIES + UNTIMED_QUERIES if smoke else TIMED_QUERIES
        self.specs = {n: REGISTRY[n] for n in self.names}
        self.checker = _load_checker(root)
        self.sf = SMOKE_SF if smoke else QUERY_SF
        self.sf_dir = os.path.join(work, "inputs", f"sf{self.sf}")
        self.seed = seed
        self.order = random.Random(seed)
        self.expected: dict[str, str] = {}

    def _execute(self, name: str, tracer: Tracer):
        """One execution: build, plan, collect, release. Returns
        (adjusted time, wall time, columns, rows, root span)."""
        from bigdatapipelinepysparksqlserver_spark import caching

        spec = self.specs[name]
        sw = Stopwatch()
        with tracer.span("query", name) as root:
            self.spark.catalog.clearCache()
            with tracer.span("queries", f"{name}.build"):
                df = spec.fn(self.spark, self.sf_dir)
            with tracer.span("planning", f"{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("execution", f"{name}.collect"):
                rows = df.collect()
            with tracer.span("caching", "caching.release"):
                caching.release_caches()
        adj, wall, _ = sw.read()
        return adj, wall, df.columns, rows, root

    def _hash(self, cols, rows) -> str:
        return self.checker.value_hash(list(cols), [tuple(r) for r in rows])

    def setup(self, res: Result) -> None:
        """Write the inputs, then run every query once and compare it with
        its DuckDB oracle. Adds the set-up time, without the oracle work,
        to ``res.setup_s``."""
        import duckdb

        from datagen import generate

        sw = Stopwatch()
        res.inputs = {"sf": self.sf, "rows": generate(self.sf_dir, self.seed, self.sf)}
        verify = 0.0
        con = duckdb.connect()
        for t in self.checker.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        off = Tracer(self.spark, enabled=False)
        for name in self.order.sample(self.names, len(self.names)):
            try:
                _, _, cols, rows, _ = self._execute(name, off)
                v0 = time.perf_counter()
                got = self._hash(cols, rows)
                ores = con.sql(self.specs[name].oracle)
                ocols, orows = ores.columns, ores.fetchall()
                ok = (
                    sorted(cols) == sorted(ocols)
                    and len(rows) == len(orows)
                    and got == self.checker.value_hash(list(ocols), orows)
                )
                self.expected[name] = got
                verify += time.perf_counter() - v0
                res.check(ok, f"{name}: differs from its DuckDB oracle")
            except Exception as e:  # a query that cannot run is a failed op
                res.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
        con.close()
        res.add_setup(sw, verify)

    def one_pass(self, res: Result, tracer: Tracer, record: bool) -> tuple[float, float]:
        """One pass over the queries in seeded order; returns its
        (adjusted, wall) time."""
        adj = wall = 0.0
        for name in self.order.sample(self.names, len(self.names)):
            try:
                dt, dt_wall, cols, rows, root = self._execute(name, tracer)
            except Exception as e:
                res.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            adj += dt
            wall += dt_wall
            res.check(self._hash(cols, rows) == self.expected.get(name),
                      f"{name}: result differs from the set-up result")
            if record:
                res.ops.setdefault(name, []).append(dt)
            if root is not None:
                self._trace_op(res, tracer, name, root, len(rows))
        return adj, wall

    def _trace_op(self, res: Result, tracer: Tracer, name: str, root, n_rows: int) -> None:
        acc = res.detail.setdefault("trace_ops", [])
        spans = list(root.walk())
        by = {c.layer: c for c in root.children}
        totals = tracer.stage_totals(spans)
        acc.append({
            "query": name, "wall": root.wall,
            "build_s": by["queries"].wall,
            "jobs": len(by["queries"].jobs),
            "plan_s": by["planning"].wall,
            "collect_s": by["execution"].wall,
            "release_s": by["caching"].wall,
            "rows": n_rows,
            "covered": sum(c.wall for c in root.children),
            "totals": totals,
        })

    def per_layer(self, res: Result, cores: int) -> dict[str, float]:
        ops = res.detail.pop("trace_ops", [])
        out = {}
        for q in TIMED_QUERIES:
            mine = [o for o in ops if o["query"] == q]
            for f in QUERY_FIELDS:
                out[f"{q}.{f}"] = _mean(o[f] for o in mine)
        out["result_rows"] = _mean(o["rows"] for o in ops)
        out["caching.release_s"] = _mean(o["release_s"] for o in ops)
        out.update(_spark_fields(ops, cores))
        out["trace.coverage"] = _mean(o["covered"] / o["wall"] for o in ops)
        return out


def _spark_fields(ops: list, cores: int) -> dict[str, float]:
    tot = [o["totals"] for o in ops]
    wall = sum(o["wall"] for o in ops)
    run = sum(t.executor_run_s for t in tot)
    return {
        "spark.jobs": _mean(t.jobs for t in tot),
        "spark.stages": _mean(t.stages for t in tot),
        "spark.tasks": _mean(t.tasks for t in tot),
        "spark.executor_run_s": _mean(t.executor_run_s for t in tot),
        "spark.shuffle_bytes": _mean(t.shuffle_bytes for t in tot),
        "spark.spill_bytes": _mean(t.spill_bytes for t in tot),
        "spark.core_busy": run / (wall * cores) if wall else 0.0,
    }


# ---------------------------------------------------------------- cdc


T0 = datetime(2024, 6, 1, 12, 0)
STEP = timedelta(minutes=15)
# change stamps sit 6 minutes before the fire instant: inside the window
# [previous fire − 5 min, fire − 5 min) that the cycle's cutoff closes
STAMP_LAG = timedelta(minutes=6)
SPREAD_DAYS = 13 / 1440  # inserts spread over the 13 minutes before the stamp


class CdcWorkload:
    def __init__(self, spark, root: str, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.work = os.path.join(work, "cdc")
        self.seed = seed
        self.size = CDC_SMOKE if smoke else CDC_SIZE
        self.checker = _load_checker(root)
        self.fire = T0
        self.batch = 1
        self.live_rows = 0

    def setup(self, res: Result) -> None:
        """Seed the OLTP source, then run the first cycle: the full load."""
        from bigdatapipelinepysparksqlserver_spark.pipelines import (
            MartPublisher, PipelineScheduler, sales_pipeline_cycle,
        )
        from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
        from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
        from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
        from bigdatapipelinepysparksqlserver_spark.workload import SourceTables, WorkloadGenerator

        sw = Stopwatch()
        sz, w = self.size, self.work
        self.src = SourceTables(self.spark, f"{w}/oltp")
        self.gen = WorkloadGenerator(self.src, seed=self.seed)
        self.gen.seed_dimensions(n_clients=sz["clients"], n_products=sz["products"])
        self.gen.insert_sales(sz["base_rows"], batch=self.batch, now=T0 - STAMP_LAG,
                              spread_days=sz["days"])
        self.live_rows = sz["base_rows"]
        self.lake = LakeTable(self.spark, f"{w}/lake")
        self.ledger = RunLedger(self.spark, f"{w}/ledger")
        self.mart = MartPublisher(f"{w}/mart")
        partials = IncrementalMart(self.spark, self.lake, f"{w}/partials")
        self.sched = PipelineScheduler(
            sales_pipeline_cycle(self.spark, self.src, self.lake, self.ledger, self.mart,
                                 partials=partials),
            retries=0, anchor=datetime(2024, 1, 1), sleep=lambda s: None,
        )
        recs = self.sched.on_tick(T0)
        self._check_cycle(res, recs, "full load")
        res.inputs = dict(sz)
        res.add_setup(sw)

    def _check_cycle(self, res: Result, recs: list, what: str) -> list:
        ok = len(recs) == 1 and recs[0]["status"] == "SUCCESS"
        if not res.check(ok, f"{what}: scheduler record {[r.get('status') for r in recs]} "
                              f"{[r.get('error') for r in recs]}"):
            return []
        p1 = recs[0]["result"]["pipeline_1"]
        res.check(p1["validation"].status == "SUCCESSFUL",
                  f"{what}: validation {p1['validation']}")
        return p1["rebuilt_partitions"]

    def cycle(self, res: Result, kind: str, tracer: Tracer,
              writes: LakeWrites | None) -> tuple[float, float]:
        """Generate one change batch (untimed), then time one scheduler
        tick; returns its (adjusted, wall) time."""
        sz = self.size
        self.batch += 1
        self.fire += STEP
        stamp = self.fire - STAMP_LAG
        self.gen.insert_sales(sz["inserts"], batch=self.batch, now=stamp, spread_days=SPREAD_DAYS)
        changed = sz["inserts"]
        self.live_rows += sz["inserts"]
        if kind == "restate":
            changed += self.gen.update_sales(self.batch, stamp, p=sz["updates"] / self.live_rows)
            deleted = self.gen.delete_sales(self.batch, stamp, p=sz["deletes"] / self.live_rows)
            changed += deleted
            self.live_rows -= deleted
        rows_before = writes.rows if writes else 0
        bytes_before = writes.bytes if writes else 0
        files_before = writes.files if writes else 0
        sw = Stopwatch()
        with tracer.span("pipelines", f"cycle.{kind}") as root:
            recs = self.sched.on_tick(self.fire)
        adj, wall, _ = sw.read()
        parts = self._check_cycle(res, recs, f"{kind} cycle at {self.fire}")
        if root is None:
            res.detail.setdefault("changed_rows", []).append(changed)
            res.detail.setdefault("cycle_times", []).append(adj)
        else:
            spans = list(root.walk())[1:]
            op = {
                "kind": kind, "wall": wall, "root": root, "changed": changed,
                "partitions": len(parts),
                "rows": writes.rows - rows_before,
                "bytes": writes.bytes - bytes_before,
                "files": writes.files - files_before,
                "self": {}, "jobs": {},
                "totals": tracer.stage_totals(list(root.walk())),
            }
            for sp in spans:
                op["self"][sp.layer] = op["self"].get(sp.layer, 0.0) + sp.self_time()
                op["jobs"][sp.layer] = op["jobs"].get(sp.layer, 0) + len(sp.jobs)
            res.detail.setdefault("trace_ops", []).append(op)
        return adj, wall

    def verify_marts(self, res: Result) -> None:
        """The published marts must equal both mart queries recomputed
        over the lake as it stands after the last cycle."""
        from bigdatapipelinepysparksqlserver_spark.pipelines import (
            mart_client_count_df, mart_sales_agg_df,
        )

        lake_df = self.lake.read()
        for table, build in (("sales_history_1", mart_client_count_df),
                             ("sales_history_2", mart_sales_agg_df)):
            want = build(lake_df, self.fire)
            got = self.mart.read(self.spark, table).select(*want.columns)
            h = [self.checker.value_hash(want.columns, [tuple(r) for r in d.collect()])
                 for d in (want, got)]
            res.check(h[0] == h[1], f"{table}: published mart differs from the lake recompute")

    def lake_bytes_per_row(self) -> float:
        files = parquet_files(self.lake.path)
        return sum(files.values()) / self.lake.read().count()

    def per_layer(self, res: Result, cores: int, bytes_per_row: float) -> dict[str, float]:
        ops = res.detail.pop("trace_ops", [])
        out = {}
        for metric, layer in CDC_LAYERS.items():
            out[metric] = _mean(o["self"].get(layer, 0.0) for o in ops)
        for metric, layer in CDC_JOB_LAYERS.items():
            out[metric] = _mean(o["jobs"].get(layer, 0) for o in ops)
        out["pipelines.self_s"] = _mean(o["root"].self_time() for o in ops)
        out["incremental.partitions"] = _mean(o["partitions"] for o in ops)
        rewritten = sum(o["rows"] for o in ops)
        out["incremental.rows_rewritten"] = _mean(o["rows"] for o in ops)
        out["incremental.useful_ratio"] = sum(o["changed"] for o in ops) / rewritten if rewritten else 0.0
        out["lake.files_written"] = _mean(o["files"] for o in ops)
        out["lake.bytes_written"] = _mean(o["bytes"] for o in ops)
        changed_bytes = sum(o["changed"] for o in ops) * bytes_per_row
        out["lake.write_amp"] = sum(o["bytes"] for o in ops) / changed_bytes if changed_bytes else 0.0
        out["lake.files_total"] = len(parquet_files(self.lake.path))
        out.update(_spark_fields(ops, cores))
        out["trace.coverage"] = _mean(
            1.0 - o["root"].self_time() / o["wall"] for o in ops
        )
        return out


# ---------------------------------------------------------------- run loop


def run(spark, root: str, work: str, workload: str, seed: int, seconds: float,
        trace: bool, smoke: bool, cores: int) -> Result:
    """Set the workload up, measure it for ``seconds``, and (traced) add
    the per-layer metrics. ``root`` is the checkout, ``work`` a scratch
    directory inside it."""
    res = Result()
    off = Tracer(spark, enabled=False)
    if workload == "cdc_cycle":
        wl = CdcWorkload(spark, root, work, seed, smoke)
        wl.setup(res)

        def one_round(tracer, writes, record):
            a, a_wall = wl.cycle(res, "append", tracer, writes)
            r, r_wall = wl.cycle(res, "restate", tracer, writes)
            if record:
                res.ops.setdefault("append", []).append(a)
                res.ops.setdefault("restate", []).append(r)
            return a + r, a_wall + r_wall
    else:
        wl = QueryWorkload(spark, root, work, seed, smoke)
        wl.setup(res)

        def one_round(tracer, writes, record):
            return wl.one_pass(res, tracer, record)

    t0 = time.perf_counter()
    while True:
        adj, wall = one_round(off, None, True)
        res.rounds.append(adj)
        res.rounds_wall.append(wall)
        if time.perf_counter() - t0 >= seconds or trace:
            break
    if trace:
        # one untraced round, then one traced round: the overhead is the
        # difference of the two
        tracer = Tracer(spark, enabled=True)
        writes = LakeWrites()
        undo = install_cdc(tracer, wl.lake, writes) if workload == "cdc_cycle" else None
        try:
            traced, _ = one_round(tracer, writes, False)
        finally:
            if undo:
                undo()
    if workload == "cdc_cycle":
        wl.verify_marts(res)
        bpr = wl.lake_bytes_per_row()
        times = res.detail.pop("cycle_times")
        changed = res.detail.pop("changed_rows")
        res.detail.update({
            "append_cycle_s.p50": statistics.median(res.ops["append"]),
            "restate_cycle_s.p50": statistics.median(res.ops["restate"]),
            "changes_per_s": sum(changed) / sum(times),
            "lake_bytes_per_row": bpr,
        })
        if trace:
            res.per_layer = wl.per_layer(res, cores, bpr)
    elif trace:
        res.per_layer = wl.per_layer(res, cores)
    if trace:
        units = per_layer_units()
        full = {k: 0.0 for k in units}
        full.update(res.per_layer)
        if workload == "cdc_cycle":
            full["cdc.append_cycle_s"] = res.detail["append_cycle_s.p50"]
            full["cdc.restate_cycle_s"] = res.detail["restate_cycle_s.p50"]
            full["cdc.changes_per_s"] = res.detail["changes_per_s"]
            full["cdc.lake_bytes_per_row"] = res.detail["lake_bytes_per_row"]
        full["trace.overhead_s"] = traced - statistics.median(res.rounds)
        res.per_layer = full
    shutil.rmtree(os.path.join(work, "cdc"), ignore_errors=True)
    return res
