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


DQ_ORACLE = """
SELECT 'orders_dup_key' AS check_name,
       COUNT(*) FILTER (WHERE cnt > 1) AS n_violations
FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'orders_null_custkey', COUNT(*) FILTER (WHERE o_custkey IS NULL)
FROM orders
UNION ALL
SELECT 'orders_nonpositive_price', COUNT(*) FILTER (WHERE o_totalprice <= 0)
FROM orders
UNION ALL
SELECT 'lineitem_orphan_orderkey', COUNT(*)
FROM lineitem l WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
)
UNION ALL
SELECT 'lineitem_discount_range',
       COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
FROM lineitem
"""


@query("dq_violations", oracle=DQ_ORACLE)
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report: key uniqueness, non-null FKs,
    value-range constraints, and referential integrity, as one row of
    violation counts per check — the pre-publish gate a lake pipeline
    runs before promoting a snapshot.

    Scale: ALL THREE orders checks ride one scan — row-level predicates
    aggregate alongside the per-key counts inside the uniqueness groupBy,
    a final 3-row stack unpivots them. Both lineitem checks ride one scan
    too: the RI probe is a left join whose null-match count IS the orphan
    count, aggregated together with the range check. Output is
    check-cardinality, never row-cardinality."""
    from ..sources.catalog import Catalog

    t = Catalog(spark, sf_dir)
    orders_checks = (
        t.orders.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_custkey").isNull().cast("bigint")).alias("nn"),
            F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("np"),
        )
        .agg(
            F.sum((F.col("cnt") > 1).cast("bigint")).alias("dup"),
            F.sum("nn").alias("nulls"),
            F.sum("np").alias("prices"),
        )
        .select(
            F.expr(
                "stack(3, 'orders_dup_key', dup, 'orders_null_custkey', nulls,"
                " 'orders_nonpositive_price', prices) AS (check_name, n_violations)"
            )
        )
    )
    lineitem_checks = (
        t.lineitem.select("l_orderkey", "l_discount")
        .join(
            t.orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.sum(F.col("o_orderkey").isNull().cast("bigint")).alias("orphans"),
            F.sum(
                ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("bigint")
            ).alias("badrange"),
        )
        .select(
            F.expr(
                "stack(2, 'lineitem_orphan_orderkey', orphans,"
                " 'lineitem_discount_range', badrange) AS (check_name, n_violations)"
            )
        )
    )
    return orders_checks.unionByName(lineitem_checks)


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


# Rename-evolution oracle: a REPLAYING oracle — the lake is seeded
# from orders under one column name, the column is renamed (pure
# metadata), and a post-rename month publishes under the NEW name;
# the final aggregate reads pre-rename files (physical 'totalprice')
# and post-rename files (physical 'price') under ONE current name.
# DuckDB replays the same union from orders — the rename machinery
# (per-txn name mapping) is the only thing that can diverge.
LAKE_RENAME_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS okey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS ym
  FROM orders
), extra AS (
  SELECT -okey AS okey, price + 2 AS price, 210001 AS ym
  FROM base WHERE ym = 199506 AND okey <> 0
)
SELECT ym,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price * 100 AS BIGINT)) AS BIGINT) AS cents
FROM (SELECT * FROM base UNION ALL SELECT * FROM extra)
GROUP BY 1
ORDER BY 1
"""


@query("lake_rename_demo", oracle=LAKE_RENAME_ORACLE)
def lake_rename_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-rename evolution end-to-end (r11,
    ``SnapshotLakeTable.rename_column``): orders seed the lake under
    ``totalprice``; the column is renamed to ``price`` (one metadata
    publish, zero data movement); a mirrored 210001 month then
    publishes under the NEW name, so the live snapshot mixes files
    whose physical columns differ. The per-month aggregate reads both
    file generations under the one current name — DuckDB replays it
    straight from orders. Inline asserts pin the semantics the hash
    can't see: time travel keeps the pre-rename name, and a publish
    under the retired name is refused.

    Scale: rename cost is one manifest write at any lake size; reads
    add at most one extra scan GROUP per rename event (rels are
    grouped by owning-txn rename signature), never per partition.
    """
    from ..sources.catalog import Catalog
    from ..sources.lake_snapshot import SnapshotLakeTable

    orders = Catalog(spark, sf_dir).orders
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"),
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("ym"),
    )
    root = tempfile.mkdtemp(prefix="lake_ren_")
    try:
        lake = SnapshotLakeTable(
            spark,
            f"{root}/lake",
            partition_cols=("ym",),
            schema=base.schema,
            retain=4,
        )
        lake.write_full(base)
        pre = lake.current_id()
        lake.rename_column("totalprice", "price")

        extra = base.where(
            (F.col("ym") == 199506) & (F.col("okey") != 0)
        ).select(
            (-F.col("okey")).alias("okey"),
            (F.col("totalprice") + 2)
            .cast("decimal(18,2)")
            .alias("price"),
            F.lit(210001).alias("ym"),
        )
        lake.overwrite_partitions(extra)

        # semantics the value hash can't see
        if "totalprice" not in lake.read_snapshot(pre).columns:
            raise AssertionError("time travel lost the pre-rename name")
        try:
            lake.overwrite_partitions(
                extra.withColumnRenamed("price", "totalprice")
            )
            raise AssertionError("retired name was accepted")
        except ValueError:
            pass

        agg = (
            lake.read()
            .groupBy("ym")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("price") * 100).cast("long")).alias("cents"),
            )
            .orderBy("ym")
        )
        rows = [(r.ym, r.n_rows, r.cents) for r in agg.collect()]
        return spark.createDataFrame(
            rows, "ym int, n_rows bigint, cents bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Row-level mart oracle: a true REPLAYING oracle — the lake is seeded
# from orders, one deterministic update cycle (every 97th order key
# gets +10.00) flows through the recorded CDF and the signed integer-
# cents fold, and DuckDB recomputes the post-change mart straight from
# orders. Any fold error (sign, multiplicity, cents rounding, partition
# routing) diverges from the straight recompute.
ROWLEVEL_MART_ORACLE = """
WITH after AS (
  SELECT o_orderpriority AS product,
         CASE WHEN o_orderkey % 97 = 0
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS paid
  FROM orders
)
SELECT product,
       CAST(COUNT(*) AS BIGINT) AS sales_count,
       CAST(SUM(CAST(paid * 100 AS BIGINT)) AS BIGINT) AS paid_cents
FROM after
WHERE paid > 0
GROUP BY 1
ORDER BY 1
"""


# Row-level MERGE oracle: a REPLAYING oracle — the lake is seeded from
# orders and one deterministic merge batch (update every 101st key,
# delete every 211th non-updated key, insert a mirrored -key row for
# every 307th) is replayed by DuckDB as plain set algebra over orders.
# Any merge defect (missed match, wrong partition routing, double
# apply, lost row, CDF drift) diverges from the straight replay.
LAKE_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS okey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS ym
  FROM orders
), after AS (
  SELECT okey,
         CASE WHEN okey % 101 = 0 THEN price + 5 ELSE price END AS price,
         ym
  FROM base
  WHERE NOT (okey % 211 = 0 AND okey % 101 <> 0)
  UNION ALL
  SELECT -okey, price + 1, ym FROM base WHERE okey % 307 = 0 AND okey <> 0
)
SELECT ym,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price * 100 AS BIGINT)) AS BIGINT) AS cents
FROM after
GROUP BY 1
ORDER BY 1
"""


@query("lake_merge_demo", oracle=LAKE_MERGE_ORACLE)
def lake_merge_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE (keyed upsert/delete) on the snapshot lake
    (r11, ``SnapshotLakeTable.merge_rows``): orders seed a month-
    partitioned lake with key zone maps; ONE merge batch updates every
    101st key in place, deletes every 211th (non-updated) key, and
    inserts a mirrored ``-key`` row for every 307th — one CAS-committed
    publish. The recorded net-change CDF is asserted inline to equal
    ``snapshot_diff_rows`` exactly (set-equal both ways), then the
    post-merge per-month aggregate is returned; DuckDB replays the
    whole merge from orders as plain set algebra.

    Scale: the matched-key location pass is a column-pruned scan
    zone-prunable on the key column; the rewrite touches only
    partitions carrying a NET change (an upsert identical to its live
    row cancels out and rewrites nothing); the net-change computation
    is batch-sized exceptAll, never lake-sized. The one full-width
    read is of the affected partitions themselves — the same regime
    as the CDC rebuild it composes with.
    """
    from ..sources.catalog import Catalog
    from ..sources.lake_snapshot import SnapshotLakeTable

    orders = Catalog(spark, sf_dir).orders
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("ym"),
    )
    root = tempfile.mkdtemp(prefix="lake_merge_")
    try:
        lake = SnapshotLakeTable(
            spark,
            f"{root}/lake",
            partition_cols=("ym",),
            schema=base.schema,
            retain=4,
            stats_cols=("okey",),
        )
        lake.write_full(base)
        pre = lake.current_id()

        upd = base.where(F.col("okey") % 101 == 0).withColumn(
            "price", (F.col("price") + 5).cast("decimal(18,2)")
        ).withColumn("is_del", F.lit(False))
        dele = base.where(
            (F.col("okey") % 211 == 0) & (F.col("okey") % 101 != 0)
        ).withColumn("is_del", F.lit(True))
        ins = base.where(
            (F.col("okey") % 307 == 0) & (F.col("okey") != 0)
        ).select(
            (-F.col("okey")).alias("okey"),
            (F.col("price") + 1).cast("decimal(18,2)").alias("price"),
            F.col("ym"),
            F.lit(False).alias("is_del"),
        )
        lake.merge_rows(
            upd.unionByName(dele).unionByName(ins),
            key_cols=["okey"],
            delete_col="is_del",
        )

        # the writer-recorded CDF must equal the scan-computed diff
        # EXACTLY (both directions) — the merge's net-change contract
        cdf = lake.changes_between(pre, lake.current_id())
        diff = lake.snapshot_diff_rows(pre, lake.current_id())
        if (
            cdf.exceptAll(diff).limit(1).count()
            or diff.exceptAll(cdf).limit(1).count()
        ):
            raise AssertionError("merge CDF diverges from snapshot diff")

        agg = (
            lake.read()
            .groupBy("ym")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("price") * 100).cast("long")).alias("cents"),
            )
            .orderBy("ym")
        )
        # materialize before the temp lake is removed (months-sized,
        # control-plane)
        rows = [(r.ym, r.n_rows, r.cents) for r in agg.collect()]
        return spark.createDataFrame(
            rows, "ym int, n_rows bigint, cents bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("rowlevel_mart_demo", oracle=ROWLEVEL_MART_ORACLE)
def rowlevel_mart_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level (CDF-fed) incremental mart end-to-end (VERDICT r10
    #5): orders seed a month-partitioned snapshot lake; the mart
    bootstraps; one update cycle (every 97th order +10.00) publishes
    with a writer-recorded change feed; ``refresh_to`` folds the CDF
    rows into the partials with signed integer-cents arithmetic. The
    returned per-product mart is BIT-EQUAL to DuckDB recomputing the
    post-change aggregate from orders directly — the fold never sees
    that recompute, so sign/multiplicity/rounding errors all diverge.

    Scale: the refresh reads only the 2×(changes) CDF rows and the
    touched partials (BASELINE r11: flat ~4 s wall across a 333×
    hot-partition growth, vs partition recompute growing with rows).
    """
    from ..plans.mart_rowlevel import RowLevelMart
    from ..sources.catalog import Catalog
    from ..sources.lake_snapshot import SnapshotLakeTable

    orders = Catalog(spark, sf_dir).orders
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("paid"),
        F.col("o_custkey").alias("client_id"),
        F.lit("M").alias("gender"),
        F.col("o_orderpriority").alias("product"),
        F.lit("STD").alias("size"),
        F.lit("none").alias("color"),
        F.date_format("o_orderdate", "yyyyMM").cast("int").alias("year_month"),
        F.lit("US").alias("country"),
    )
    root = tempfile.mkdtemp(prefix="rlmart_")
    try:
        lake = SnapshotLakeTable(
            spark, f"{root}/lake", schema=base.schema, retain=4
        )
        lake.write_full(base)
        mart = RowLevelMart(spark, lake, f"{root}/mart")
        mart.bootstrap()

        hit = F.col("id") % 97 == 0
        old = base.where(hit)
        new = old.withColumn(
            "paid", (F.col("paid") + 10).cast("decimal(18,2)")
        )
        changed_yms = [
            r.year_month
            for r in old.select("year_month").distinct().collect()
        ]
        content = base.withColumn(
            "paid",
            F.when(hit, (F.col("paid") + 10).cast("decimal(18,2)"))
            .otherwise(F.col("paid")),
        ).where(F.col("year_month").isin(changed_yms))
        cdf = old.withColumn("change", F.lit("delete")).unionByName(
            new.withColumn("change", F.lit("insert"))
        )
        lake.apply_rebuild(content, changed_year_months=changed_yms, changes=cdf)
        mart.refresh_to()

        agg = (
            mart.sales_partial.read()
            .groupBy("product")
            .agg(
                F.sum("sales_count").alias("sales_count"),
                F.sum("paid_cents").alias("paid_cents"),
            )
            .orderBy("product")
        )
        rows = [(r.product, r.sales_count, r.paid_cents) for r in agg.collect()]
        return spark.createDataFrame(
            rows, "product string, sales_count bigint, paid_cents bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
