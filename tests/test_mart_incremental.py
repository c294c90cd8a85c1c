"""Incremental mart maintenance: partial-table refresh over changed
partitions must equal the full-lake recompute exactly — including
count-distinct (via distinct-tuple partials), deletes, updates, and
delete-to-empty partitions."""

from __future__ import annotations

import glob
import os
import re
import threading
from datetime import datetime, timedelta
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Observation

from bigdatapipelinepysparksqlserver_spark.pipelines import (
    MartPublisher,
    PipelineScheduler,
    mart_client_count_df,
    mart_sales_agg_df,
    run_pipeline_1,
    sales_pipeline_cycle,
)
from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import one_file_per_partition
from bigdatapipelinepysparksqlserver_spark.workload import (
    SourceTables,
    WorkloadGenerator,
)

T1 = datetime(2024, 6, 1, 12, 3, 42)
T2 = T1 + timedelta(days=1)
T3 = T2 + timedelta(days=1)
REFRESH = datetime(2024, 7, 1, 8, 0, 0)


@pytest.fixture()
def env(spark, tmp_path):
    src = SourceTables(spark, str(tmp_path / "oltp"))
    gen = WorkloadGenerator(src, seed=7)
    gen.seed_dimensions(n_clients=40, n_products=15)
    lake = LakeTable(spark, str(tmp_path / "lake"))
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    mart = IncrementalMart(spark, lake, str(tmp_path / "mart_partials"))
    return src, gen, lake, ledger, mart


def _rows(df, key_cols):
    return {
        tuple(r[c] for c in key_cols): r
        for r in df.collect()
    }


def _assert_marts_match_full(lake, mart):
    full_cc = mart_client_count_df(lake.read(), REFRESH)
    inc_cc = mart.client_count(REFRESH)
    assert sorted(map(tuple, full_cc.collect())) == sorted(
        map(tuple, inc_cc.collect())
    )
    full_sa = mart_sales_agg_df(lake.read(), REFRESH)
    inc_sa = mart.sales_agg(REFRESH)
    # names + types must line up (incl. decimal width); nullability flags
    # legitimately differ after a parquet round-trip
    assert [(f.name, f.dataType) for f in full_sa.schema.fields] == [
        (f.name, f.dataType) for f in inc_sa.schema.fields
    ]
    assert sorted(map(tuple, full_sa.collect())) == sorted(
        map(tuple, inc_sa.collect())
    )


@pytest.mark.slow
def test_incremental_mart_tracks_cdc_exactly(spark, env):
    src, gen, lake, ledger, mart = env

    gen.insert_sales(300, batch=1, now=T1, spread_days=45)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    mart.refresh(rep1["rebuilt_partitions"])
    _assert_marts_match_full(lake, mart)

    # CDC round 2: inserts + updates + deletes; refresh ONLY the
    # partitions the loader rebuilt
    t2 = T2 - timedelta(hours=1)
    gen.insert_sales(80, batch=2, now=t2, spread_days=1)
    assert gen.update_sales(batch=2, now=t2, p=0.05) > 0
    assert gen.delete_sales(batch=2, now=t2, p=0.03) > 0
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert rep2["rebuilt_partitions"]
    mart.refresh(rep2["rebuilt_partitions"])
    _assert_marts_match_full(lake, mart)


@pytest.mark.slow
def test_refresh_untouched_partition_partials_stay_put(spark, env):
    src, gen, lake, ledger, mart = env
    gen.insert_sales(200, batch=1, now=T1, spread_days=45)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    mart.refresh(rep1["rebuilt_partitions"])

    # second window touches only recent partitions
    t2 = T2 - timedelta(hours=1)
    gen.insert_sales(50, batch=2, now=t2, spread_days=1)
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    touched = set(rep2["rebuilt_partitions"])
    all_parts = {
        r.year_month
        for r in mart.sales_partial.read().select("year_month").distinct().collect()
    }
    assert all_parts - touched  # some partials must be outside the change set

    def untouched_partials():
        df = mart.sales_partial.read()
        return _rows(
            df.where(~df["year_month"].isin(list(touched))),
            ["year_month", "country", "product", "size", "color"],
        )

    before = untouched_partials()
    mart.refresh(rep2["rebuilt_partitions"])
    after = untouched_partials()
    # untouched partials bit-identical (refresh never rewrote them)
    assert {k: (v.sales_count, v.paid_amount) for k, v in before.items()} == {
        k: (v.sales_count, v.paid_amount) for k, v in after.items()
    }
    _assert_marts_match_full(lake, mart)


@pytest.mark.slow
def test_delete_to_empty_partition_drops_partials(spark, env):
    src, gen, lake, ledger, mart = env
    gen.insert_sales(100, batch=1, now=T1, spread_days=30)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)
    mart.refresh(rep1["rebuilt_partitions"])
    _assert_marts_match_full(lake, mart)

    n = gen.delete_sales(batch=2, now=T2 - timedelta(hours=1), p=1.0)
    assert n > 0
    rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    mart.refresh(rep2["rebuilt_partitions"])
    assert lake.read().count() == 0
    assert mart.sales_partial.read().count() == 0
    assert mart.client_partial.read().count() == 0
    assert mart.sales_agg(REFRESH).count() == 0
    assert mart.client_count(REFRESH).count() == 0


@pytest.mark.slow
def test_cycle_publishes_same_snapshot_with_and_without_partials(
    spark, env, tmp_path
):
    """The scheduled cycle's two mart paths publish identical snapshots:
    the full-lake recompute (no ``partials``) and the incremental one,
    whose partials pipeline 1's validation step refreshes. Two cycles
    over one source, the second with updates and deletes."""
    src, gen, lake, ledger, mart = env
    pub_inc = MartPublisher(str(tmp_path / "mart_inc"))
    pub_full = MartPublisher(str(tmp_path / "mart_full"))
    cycles = [
        sales_pipeline_cycle(spark, src, lake, ledger, pub_inc, partials=mart),
        sales_pipeline_cycle(
            spark,
            src,
            LakeTable(spark, str(tmp_path / "lake_full")),
            RunLedger(spark, str(tmp_path / "ledger_full")),
            pub_full,
        ),
    ]

    def run(fire):
        for cycle in cycles:
            rep = cycle(fire)["pipeline_1"]
            assert rep["validation"].status == "SUCCESSFUL", rep["validation"]
        for table in ("sales_history_1", "sales_history_2"):
            full = sorted(map(tuple, pub_full.read(spark, table).collect()))
            inc = sorted(map(tuple, pub_inc.read(spark, table).collect()))
            assert full == inc

    gen.insert_sales(200, batch=1, now=T1, spread_days=30)
    run(T1)
    t = T2 - timedelta(hours=1)
    gen.insert_sales(40, batch=2, now=t, spread_days=1)
    assert gen.update_sales(batch=2, now=t, p=0.05) > 0
    assert gen.delete_sales(batch=2, now=t, p=0.03) > 0
    run(T2)


def test_cycle_runs_no_partition_listing_or_drop(spark, env, tmp_path, monkeypatch):
    """Regression guard for the one-write rebuild: a full scheduler
    cycle (lake load + incremental mart refresh) on a plain LakeTable
    lists no partitions and drops none — every rebuild, delete-to-empty
    included, is one staged swap — and leaves no stage directory."""
    src, gen, lake, ledger, mart = env
    calls = []

    def spy(name):
        real = getattr(LakeTable, name)

        def wrapper(self, *a, **kw):
            calls.append(name)
            return real(self, *a, **kw)

        return wrapper

    for name in ("partitions", "drop_partition_values"):
        monkeypatch.setattr(LakeTable, name, spy(name))
    cycle = sales_pipeline_cycle(
        spark, src, lake, ledger, MartPublisher(str(tmp_path / "mart")), partials=mart
    )
    gen.insert_sales(60, batch=1, now=T1, spread_days=40)
    cycle(T1)
    gen.insert_sales(10, batch=2, now=T2 - timedelta(hours=1), spread_days=1)
    assert gen.delete_sales(batch=2, now=T2 - timedelta(hours=1), p=0.5) > 0
    rep = cycle(T2)
    assert rep["pipeline_1"]["validation"].status == "SUCCESSFUL"
    assert calls == []
    roots = [lake.path] + [t.path for t in (mart.sales_partial, mart.client_partial)]
    assert all(
        not n.startswith("_stage-") for r in roots for n in os.listdir(r)
    )
    # the refresh writes only the two partials the final marts read
    assert sorted(os.listdir(tmp_path / "mart_partials")) == [
        "client_pairs_partial",
        "sales_agg_partial",
    ]
    _assert_marts_match_full(lake, mart)


def test_scheduled_cycles_stay_within_job_budget(spark, env, tmp_path, jobs_launched):
    """A scheduled cycle after the full load runs at most 16 Spark jobs,
    for an append and for a cycle with updates and deletes alike:
    detection 2, lake rewrite 4 (two dim broadcasts, the shuffle, the
    write), partials 4, reconcile 2, mart staging 4. No read after a
    table's own write infers its schema, detection sorts on the driver,
    and each partial and the client-count mart shuffle once."""
    src, gen, lake, ledger, mart = env
    cycle = sales_pipeline_cycle(
        spark, src, lake, ledger, MartPublisher(str(tmp_path / "mart")), partials=mart
    )
    gen.insert_sales(120, batch=1, now=T1 - timedelta(hours=1), spread_days=60)
    cycle(T1)
    t = T2 - timedelta(hours=1)
    gen.insert_sales(20, batch=2, now=t, spread_days=1)
    with jobs_launched() as append:
        rep = cycle(T2)
    assert rep["pipeline_1"]["validation"].status == "SUCCESSFUL"
    t = T3 - timedelta(hours=1)
    gen.insert_sales(20, batch=3, now=t, spread_days=1)
    assert gen.update_sales(batch=3, now=t, p=0.1) > 0
    assert gen.delete_sales(batch=3, now=t, p=0.05) > 0
    with jobs_launched() as restate:
        rep = cycle(T3)
    assert rep["pipeline_1"]["validation"].status == "SUCCESSFUL"
    assert max(len(append), len(restate)) <= 16, (append, restate)
    _assert_marts_match_full(lake, mart)


def _exchanges(plan: str) -> list:
    """What follows each shuffle ``Exchange`` node of a physical plan."""
    return re.findall(r"\bExchange (.*)", plan)


def test_partials_and_client_count_shuffle_once(spark, env, executed_plan):
    """The refresh hashes its read-back once by ``year_month``, with the
    partition count of the partial writes' own repartition, so each
    partial frame as written holds exactly that one shuffle; the
    client-count mart's distinct and count share one shuffle too. A
    changed count on either side would bring a second shuffle back."""
    src, gen, lake, ledger, mart = env
    gen.insert_sales(60, batch=1, now=T1 - timedelta(hours=1), spread_days=40)
    months = run_pipeline_1(spark, src, lake, ledger, now=T1, partials=mart)[
        "rebuilt_partitions"
    ]
    n = spark.sparkContext.defaultParallelism
    scan = lake.read().where(F.col("year_month").isin(months))
    for df in IncrementalMart._partials(scan, Observation()):
        (exchange,) = _exchanges(executed_plan(one_file_per_partition(df, ("year_month",))))
        assert re.match(rf"hashpartitioning\(year_month#\d+, {n}\)", exchange), exchange
    assert len(_exchanges(executed_plan(mart.client_count(REFRESH)))) == 1


def _in_thread(fn, timeout=180.0):
    """``fn()`` in a daemon thread joined with ``timeout``, so a call
    that blocks for good (an ``Observation.get`` whose plan never
    reported) fails the test instead of hanging the suite."""
    out = {}

    def target():
        try:
            out["value"] = fn()
        except Exception as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"call still running after {timeout} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _tombstone_month(src, ym, now):
    """Delete every source sale of ``ym``, with tombstones stamped
    ``now`` (``WorkloadGenerator.delete_sales`` for one whole month)."""
    sales = src.read("sales")
    victims = sales.where(F.col("year_month") == ym)
    src.append(
        "removed",
        victims.select(
            F.lit("sales").alias("table"),
            "id",
            F.col("sale_date").alias("record_date"),
            "year_month",
            F.lit(now).alias("deleted_date"),
        ),
    )
    src.write("sales", sales.where(F.col("year_month") != ym))


def _assert_published_match_lake(spark, lake, pub, refresh):
    lake_df = lake.read()
    for table, build in (
        ("sales_history_1", mart_client_count_df),
        ("sales_history_2", mart_sales_agg_df),
    ):
        want = build(lake_df, refresh)
        got = pub.read(spark, table).select(*want.columns)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), table


def test_fused_cycle_validates_and_publishes_through_empty_months(spark, env, tmp_path):
    """The scheduled cycle with partials refreshes them in pipeline 1's
    validation step and takes reconcile's lake totals from that same
    read-back. Drive it through every way that read-back, or its paid
    rows, can be empty: a month whose rows are all unpaid, a month
    deleted to empty, and every row deleted. Each cycle must finish,
    validate SUCCESSFUL, drop the emptied months' partials and publish
    marts equal to the full-lake recompute."""
    src, gen, lake, ledger, mart = env
    pub = MartPublisher(str(tmp_path / "mart"))
    cycle = sales_pipeline_cycle(spark, src, lake, ledger, pub, partials=mart)

    def run(fire, emptied=()):
        rep = _in_thread(lambda: cycle(fire))["pipeline_1"]
        assert rep["validation"].status == "SUCCESSFUL", rep["validation"]
        for partial in (mart.sales_partial, mart.client_partial):
            assert not [
                v for v in emptied
                if os.path.isdir(os.path.join(partial.path, f"year_month={v}"))
            ]
        _assert_published_match_lake(spark, lake, pub, fire)
        return rep

    gen.insert_sales(120, batch=1, now=T1 - timedelta(hours=1), spread_days=60)
    months = run(T1)["rebuilt_partitions"]
    assert len(months) >= 3
    unpaid, deleted = months[0], months[1]

    # every sale of one month refunded to 0: the read-back has rows but
    # no paid one, so no partial row is written for it
    stamp = T2 - timedelta(hours=1)
    sales = src.read("sales")
    hit = F.col("year_month") == unpaid
    src.write(
        "sales",
        sales.withColumn(
            "paid", F.when(hit, F.lit(0).cast("decimal(18,2)")).otherwise(F.col("paid"))
        ).withColumn(
            "updated_date", F.when(hit, F.lit(stamp)).otherwise(F.col("updated_date"))
        ),
    )
    assert run(T2, emptied=[unpaid])["rebuilt_partitions"] == [unpaid]
    assert lake.read().where(hit).count() > 0

    _tombstone_month(src, deleted, T3 - timedelta(hours=1))
    assert run(T3, emptied=[deleted])["rebuilt_partitions"] == [deleted]

    t4 = T3 + timedelta(days=1)
    assert gen.delete_sales(batch=4, now=t4 - timedelta(hours=1), p=1.0) > 0
    run(t4, emptied=months)
    assert lake.read().count() == 0


def _corrupt_after_rebuild(monkeypatch, lake):
    """After each rebuild of ``lake`` returns, rewrite one of its data
    files in place with pyarrow: same rows, one ``paid`` raised by 1.00.
    The file's Hadoop ``.crc`` sidecar goes too, as it would under any
    writer outside Hadoop's local filesystem; a stale one would turn
    the read-back into a checksum error instead of a wrong sum."""
    real = LakeTable.apply_rebuild

    def corrupting(self, df, changed_year_months=()):
        real(self, df, changed_year_months=changed_year_months)
        if self.path != lake.path:
            return
        path = sorted(glob.glob(os.path.join(lake.path, "year_month=*", "*", "*.parquet")))[0]
        t = pq.read_table(path)
        i = t.schema.get_field_index("paid")
        paid = t.column(i).to_pylist()
        k = next(j for j, v in enumerate(paid) if v is not None)
        paid[k] += Decimal("1.00")
        t = t.set_column(i, t.schema.field(i), pa.array(paid, t.schema.field(i).type))
        pq.write_table(t, path, use_deprecated_int96_timestamps=True)
        d, name = os.path.split(path)
        os.remove(os.path.join(d, f".{name}.crc"))

    monkeypatch.setattr(LakeTable, "apply_rebuild", corrupting)


@pytest.mark.parametrize("with_partials", [False, True])
def test_corrupted_lake_file_fails_validation(spark, env, tmp_path, monkeypatch, with_partials):
    """Reconcile's lake side is a read-back of the files as written, not
    the rebuild's own numbers: a file altered after the write (same row
    count, different ``paid``) must fail validation and leave a FAILED
    ledger row, whether pipeline 1 runs alone or inside the scheduled
    cycle whose validation also refreshes the mart partials."""
    src, gen, lake, ledger, mart = env
    gen.insert_sales(80, batch=1, now=T1 - timedelta(hours=1), spread_days=40)
    _corrupt_after_rebuild(monkeypatch, lake)
    if with_partials:
        pub = MartPublisher(str(tmp_path / "mart"))
        rep = sales_pipeline_cycle(spark, src, lake, ledger, pub, partials=mart)(T1)
        rep = rep["pipeline_1"]
    else:
        rep = run_pipeline_1(spark, src, lake, ledger, now=T1)
    res = rep["validation"]
    assert res.status == "FAILED"
    assert res.lake_count == res.source_count
    assert res.lake_sum == res.source_sum + Decimal("1.00")
    (row,) = [r for r in ledger.rows() if r.id == rep["run_id"]]
    assert row.validation_status == "FAILED"


def test_scheduler_retry_after_failed_refresh_rebuilds_the_window(
    spark, env, tmp_path, monkeypatch
):
    """In the scheduled cycle the partials refresh runs inside pipeline
    1's validation step, so a refresh that fails leaves the run short of
    fully successful: the scheduler's retry re-runs the same window and
    refreshes the same partitions, and the published marts match the
    lake. (Run after a SUCCESSFUL validation, the retry would start the
    next, empty window and publish the stale partials.)"""
    src, gen, lake, ledger, mart = env
    pub = MartPublisher(str(tmp_path / "mart"))
    sched = PipelineScheduler(
        sales_pipeline_cycle(spark, src, lake, ledger, pub, partials=mart),
        retries=1, anchor=datetime(2024, 1, 1), sleep=lambda s: None,
    )
    gen.insert_sales(60, batch=1, now=T1 - timedelta(hours=1), spread_days=40)
    assert [r["status"] for r in sched.on_tick(T1)] == ["SUCCESS"]

    gen.insert_sales(20, batch=2, now=T2 - timedelta(hours=1), spread_days=1)
    real = IncrementalMart.refresh
    calls = []

    def flaky(self, changed):
        calls.append(list(changed))
        if len(calls) == 1:
            raise RuntimeError("transient partial write failure")
        return real(self, changed)

    monkeypatch.setattr(IncrementalMart, "refresh", flaky)
    (rec,) = sched.on_tick(T2)
    assert rec["status"] == "SUCCESS", rec.get("error")
    assert len(calls) == 2 and calls[1] == calls[0] != []
    assert rec["result"]["pipeline_1"]["validation"].status == "SUCCESSFUL"
    _assert_published_match_lake(spark, lake, pub, rec["fire"])
