"""The engine's signature capability end-to-end (C1-C6, M6, F8, F9, M7):
seeded workload → incremental load → partition-grain rebuild → exact
two-sided reconciliation — including the reference's documented
backdated-record blind spot (README.md:76).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.pipelines import (
    SingleFlightError,
    run_pipeline_1,
)
from bigdatapipelinepysparksqlserver_spark.plans.ledger import RUNNING, RunLedger
from bigdatapipelinepysparksqlserver_spark.plans.reconcile import SUCCESSFUL
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
from bigdatapipelinepysparksqlserver_spark.workload import SourceTables, WorkloadGenerator

T1 = datetime(2024, 6, 1, 12, 3, 42)
T2 = T1 + timedelta(days=1)
T3 = T2 + timedelta(days=1)


@pytest.fixture()
def env(spark, tmp_path):
    src = SourceTables(spark, str(tmp_path / "oltp"))
    gen = WorkloadGenerator(src, seed=42)
    gen.seed_dimensions(n_clients=40, n_products=15)
    lake = LakeTable(spark, str(tmp_path / "lake"))
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    return src, gen, lake, ledger


@pytest.mark.slow
def test_full_then_incremental_roundtrip(spark, env):
    src, gen, lake, ledger = env

    # --- run 1: full load ------------------------------------------------
    gen.insert_sales(300, batch=1, now=T1, spread_days=45)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    assert rep1["previous_cutoff"] is None
    assert rep1["validation"].status == SUCCESSFUL
    assert rep1["validation"].source_count == rep1["validation"].lake_count > 0

    # --- run 2: inserts + updates + deletes ------------------------------
    before = {
        (r.year_month, r.country)
        for r in lake.partitions().collect()
    }
    # stamp mutations 1h before the run: a change stamped inside the
    # cutoff's 5-min safety lag is (correctly) deferred to the NEXT run,
    # so same-instant stamps would not surface in run 2.
    t2_stamp = T2 - timedelta(hours=1)
    gen.insert_sales(80, batch=2, now=t2_stamp, spread_days=1)  # within window
    n_upd = gen.update_sales(batch=2, now=t2_stamp, p=0.05)
    n_del = gen.delete_sales(batch=2, now=t2_stamp, p=0.03)
    assert n_upd > 0 and n_del > 0

    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert rep2["run_id"] == 2
    assert rep2["previous_cutoff"] == rep1["current_cutoff"]
    assert rep2["validation"].status == SUCCESSFUL
    assert rep2["rebuilt_partitions"]  # something changed

    # deleted rows are gone from the lake (tombstone-driven rebuild)
    deleted_ids = [r.id for r in src.read("removed").collect()]
    assert deleted_ids
    lake_ids = {r.id for r in lake.read().collect()}
    assert not (set(deleted_ids) & lake_ids)

    # updated rows carry the new paid value in the lake
    upd = src.read("sales").where(F.col("updated_date").isNotNull()).collect()
    assert upd
    lake_paid = {r.id: r.paid for r in lake.read().collect()}
    for r in upd:
        if r.sale_date < rep2["current_cutoff"]:
            assert lake_paid[r.id] == r.paid

    # untouched partitions were NOT rewritten beyond the changed list
    assert set(rep2["rebuilt_partitions"]) <= {ym for ym, _ in before} | {
        r.year_month for r in src.read("sales").collect()
    }


@pytest.mark.slow
def test_exact_cutoff_row_deferred_to_next_run(spark, env):
    """A sale stamped exactly at the cutoff is excluded by run N ([prev,cur))
    and picked up by run N+1 — processed exactly once, never twice."""
    src, gen, lake, ledger = env
    gen.insert_sales(50, batch=1, now=T1, spread_days=10)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    cut1 = rep1["current_cutoff"]

    # hand-craft one sale exactly at cut1
    extra = spark.createDataFrame(
        [(999_999, cut1, int(f"{cut1.year}{cut1.month:02d}"), "50.00", 1, 1, None)],
        "id long, sale_date timestamp, year_month int, paid string, client_id long, product_id long, updated_date timestamp",
    ).withColumn("paid", F.col("paid").cast("decimal(18,2)"))
    src.append("sales", extra)

    assert 999_999 not in {r.id for r in lake.read().collect()}

    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert rep2["validation"].status == SUCCESSFUL
    assert 999_999 in {r.id for r in lake.read().collect()}


@pytest.mark.slow
def test_backdated_insert_is_skipped_by_design(spark, env):
    """README.md:76 semantics: a row inserted with sale_date BEFORE
    previous_cutoff (and no updated_date) is never picked up. The test
    asserts the blind spot rather than 'fixing' it."""
    src, gen, lake, ledger = env
    gen.insert_sales(100, batch=1, now=T1, spread_days=30)
    run_pipeline_1(spark, src, lake, ledger, now=T1)

    backdated = spark.createDataFrame(
        [(888_888, T1 - timedelta(days=10), int(f"{(T1 - timedelta(days=10)).year}{(T1 - timedelta(days=10)).month:02d}"),
          "10.00", 1, 1, None)],
        "id long, sale_date timestamp, year_month int, paid string, client_id long, product_id long, updated_date timestamp",
    ).withColumn("paid", F.col("paid").cast("decimal(18,2)"))
    src.append("sales", backdated)

    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert 888_888 not in {r.id for r in lake.read().collect()}
    # and validation does NOT flag it (reconcile only checks changed partitions)
    assert rep2["validation"].status == SUCCESSFUL

    # ... but a later UPDATE to that row DOES surface it (updated_date branch)
    src.write(
        "sales",
        src.read("sales").withColumn(
            "updated_date",
            F.when(F.col("id") == 888_888, F.lit(T3 - timedelta(hours=1)))
            .otherwise(F.col("updated_date")),
        ),
    )
    rep3 = run_pipeline_1(spark, src, lake, ledger, now=T3)
    assert rep3["validation"].status == SUCCESSFUL
    assert 888_888 in {r.id for r in lake.read().collect()}


def test_single_flight_guard_blocks_fresh_running(spark, env):
    src, gen, lake, ledger = env
    gen.insert_sales(20, batch=1, now=T1, spread_days=5)
    ledger.start_run(1, T1, None, T1)  # a live concurrent run
    assert [r.pipeline_status for r in ledger.read().collect()] == [RUNNING]
    with pytest.raises(SingleFlightError):
        run_pipeline_1(spark, src, lake, ledger, now=T1 + timedelta(minutes=10))


def test_stale_running_row_is_taken_over(spark, env):
    """A RUNNING row whose run hard-crashed (never wrote FAILED) must not
    brick the pipeline: past the heartbeat timeout the restart purges it
    and proceeds (C4)."""
    src, gen, lake, ledger = env
    gen.insert_sales(20, batch=1, now=T1, spread_days=5)
    ledger.start_run(1, T1, None, T1)  # crashed run's leftover
    rep = run_pipeline_1(spark, src, lake, ledger, now=T2)  # 1 day later ≫ 60 min
    assert rep["validation"].status == SUCCESSFUL
    rows = ledger.read().collect()
    assert [r.pipeline_status for r in rows] == ["SUCCESSFUL"]  # leftover purged


@pytest.mark.slow
def test_fully_deleted_partition_is_dropped_from_lake(spark, env):
    """Delete-to-empty cleanup: when every row of a partition is deleted
    in a window, dynamic overwrite alone cannot clean it (nothing to
    overwrite with) — the loader must drop the stale partition dirs."""
    src, gen, lake, ledger = env
    gen.insert_sales(100, batch=1, now=T1, spread_days=30)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    assert rep1["validation"].source_count > 0
    assert lake.read().count() > 0

    n = gen.delete_sales(batch=2, now=T2 - timedelta(hours=1), p=1.0)  # delete ALL
    assert n == rep1["validation"].source_count
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert rep2["validation"].status == SUCCESSFUL
    assert rep2["validation"].source_count == 0
    assert lake.read().count() == 0  # no stale rows survive anywhere


@pytest.mark.slow
def test_empty_changeset_short_circuits(spark, env):
    src, gen, lake, ledger = env
    gen.insert_sales(30, batch=1, now=T1, spread_days=5)
    run_pipeline_1(spark, src, lake, ledger, now=T1)
    # no new activity between T1 and T2 cutoffs except the last-5-min tail
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T1 + timedelta(minutes=1))
    assert rep2["rebuilt_partitions"] == []
    assert rep2["validation"].status == SUCCESSFUL


@pytest.mark.slow
def test_failed_run_writes_failed_and_restart_recovers(spark, env, monkeypatch):
    """A pipeline exception must reach the ledger as FAILED (the soft-
    crash path), and the next run must purge the failed row, REUSE its
    id, and complete — the reference's idempotent-restart protocol
    (load_sales_history.py:25-31,:181-183) end-to-end."""
    import bigdatapipelinepysparksqlserver_spark.pipelines as P

    src, gen, lake, ledger = env
    gen.insert_sales(30, batch=1, now=T1, spread_days=5)

    real_run = P.IncrementalLoader.run

    def boom(self, prev, cur):
        raise RuntimeError("injected extract failure")

    monkeypatch.setattr(P.IncrementalLoader, "run", boom)
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline_1(spark, src, lake, ledger, now=T1)
    rows = {r.id: r for r in ledger.read().collect()}
    assert rows[1].pipeline_status == "FAILED"

    monkeypatch.setattr(P.IncrementalLoader, "run", real_run)
    rep = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert rep["run_id"] == 1  # failed run's id reused after purge
    assert rep["validation"].status == SUCCESSFUL
    rows = [r for r in ledger.read().collect()]
    assert len(rows) == 1 and rows[0].pipeline_status == "SUCCESSFUL"


@pytest.mark.slow
def test_transient_failure_succeeds_on_retry(spark, env, monkeypatch):
    """run_with_retries — the reference's Airflow retry policy
    (retries=2, retry_delay=10s, dags/sales_pipeline_dag.py:5-8):
    attempt 1 fails transiently (FAILED ledger row), attempt 2 purges it
    and succeeds — exactly one SUCCESSFUL row remains, and the
    configured delay is honored between attempts."""
    import bigdatapipelinepysparksqlserver_spark.pipelines as P
    from bigdatapipelinepysparksqlserver_spark.pipelines import run_with_retries

    src, gen, lake, ledger = env
    gen.insert_sales(30, batch=1, now=T1, spread_days=5)

    real_run = P.IncrementalLoader.run
    calls = {"n": 0}

    def flaky(self, prev, cur):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient extract failure")
        return real_run(self, prev, cur)

    monkeypatch.setattr(P.IncrementalLoader, "run", flaky)
    slept: list = []
    rep = run_with_retries(
        lambda: run_pipeline_1(spark, src, lake, ledger, now=T1),
        retries=2,
        retry_delay_seconds=10,
        sleep=slept.append,
    )
    assert calls["n"] == 2 and slept == [10]
    assert rep["validation"].status == SUCCESSFUL
    rows = ledger.read().collect()
    assert len(rows) == 1 and rows[0].pipeline_status == "SUCCESSFUL"


def test_retries_exhausted_reraises_and_single_flight_not_retried(spark, env, monkeypatch):
    import bigdatapipelinepysparksqlserver_spark.pipelines as P
    from bigdatapipelinepysparksqlserver_spark.pipelines import run_with_retries

    src, gen, lake, ledger = env
    gen.insert_sales(10, batch=1, now=T1, spread_days=5)

    def always_boom(self, prev, cur):
        raise RuntimeError("permanent failure")

    monkeypatch.setattr(P.IncrementalLoader, "run", always_boom)
    slept: list = []
    with pytest.raises(RuntimeError, match="permanent"):
        run_with_retries(
            lambda: run_pipeline_1(spark, src, lake, ledger, now=T1),
            retries=2,
            retry_delay_seconds=10,
            sleep=slept.append,
        )
    assert slept == [10, 10]  # 3 attempts total, 2 delays

    # SingleFlightError short-circuits: no sleeps, no extra attempts
    attempts = {"n": 0}

    def flight(*a, **k):
        attempts["n"] += 1
        raise SingleFlightError("run [1] still RUNNING")

    slept2: list = []
    with pytest.raises(SingleFlightError):
        run_with_retries(flight, retries=2, retry_delay_seconds=10, sleep=slept2.append)
    assert attempts["n"] == 1 and slept2 == []


@pytest.mark.slow
def test_compaction_hook_bounds_file_counts_across_cycles(spark, env):
    """A 15-min-cadence pipeline must not accrete small files per cycle:
    the staged-swap rebuild writes each touched partition as one file,
    so per-partition file counts stay bounded across N cycles instead
    of growing with run count — with no compaction pass at all."""
    src, gen, lake, ledger = env
    gen.insert_sales(120, batch=1, now=T1, spread_days=3)
    run_pipeline_1(spark, src, lake, ledger, now=T1)

    # 5 more daily cycles, each inserting into the SAME few partitions
    # (sale_date = stamp − U(0, 1 day), inside every cycle's window)
    t = T1
    for cycle in range(2, 7):
        t = t + timedelta(days=1)
        gen.insert_sales(40, batch=cycle, now=t - timedelta(hours=1), spread_days=1)
        rep = run_pipeline_1(spark, src, lake, ledger, now=t)
        assert rep["validation"].status == SUCCESSFUL
        assert rep["rebuilt_partitions"]

    # every partition is the single file its rebuild wrote
    stats = lake.partition_file_stats()
    assert stats
    for rel, nfiles, nbytes in stats:
        assert nfiles == 1, (rel, nfiles, nbytes)
