"""Incremental mart maintenance: partial-table refresh over changed
partitions must equal the full-lake recompute exactly — including
count-distinct (via distinct-tuple partials), deletes, updates, and
delete-to-empty partitions."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from bigdatapipelinepysparksqlserver_spark.pipelines import (
    mart_client_count_df,
    mart_sales_agg_df,
    run_pipeline_1,
)
from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import IncrementalMart
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
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
def test_pipeline_2_incremental_publishes_same_snapshot(spark, env, tmp_path):
    from bigdatapipelinepysparksqlserver_spark.pipelines import (
        MartPublisher,
        run_pipeline_2,
        run_pipeline_2_incremental,
    )

    src, gen, lake, ledger, mart = env
    gen.insert_sales(200, batch=1, now=T1, spread_days=30)
    rep1 = run_pipeline_1(spark, src, lake, ledger, now=T1)

    pub_full = MartPublisher(str(tmp_path / "mart_full"))
    pub_inc = MartPublisher(str(tmp_path / "mart_inc"))
    run_pipeline_2(spark, lake, pub_full, now=REFRESH)
    run_pipeline_2_incremental(
        spark, mart, pub_inc, rep1["rebuilt_partitions"], now=REFRESH
    )
    for table in ("sales_history_1", "sales_history_2"):
        full = sorted(map(tuple, pub_full.read(spark, table).collect()))
        inc = sorted(map(tuple, pub_inc.read(spark, table).collect()))
        assert full == inc


@pytest.mark.slow
def test_bootstrap_equals_refresh_path(spark, env):
    src, gen, lake, ledger, mart = env
    gen.insert_sales(150, batch=1, now=T1, spread_days=20)
    run_pipeline_1(spark, src, lake, ledger, now=T1)
    mart.bootstrap()
    _assert_marts_match_full(lake, mart)


def test_cycle_runs_no_partition_listing_or_drop(spark, env, tmp_path, monkeypatch):
    """Regression guard for the one-write rebuild: a full scheduler
    cycle (lake load + incremental mart refresh) on a plain LakeTable
    lists no partitions and drops none — every rebuild, delete-to-empty
    included, is one staged swap — and leaves no stage directory."""
    from bigdatapipelinepysparksqlserver_spark.pipelines import (
        MartPublisher,
        sales_pipeline_cycle,
    )

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
