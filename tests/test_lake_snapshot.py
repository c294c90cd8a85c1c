"""Snapshot-isolated lake (VERDICT r8 #1): a multi-partition CDC
rebuild must be ONE visibility event — every concurrent reader sees
exactly the old or the new snapshot, never a mix — on LocalFS AND the
non-atomic-rename ObjectStoreSimFS. Plus the manifest lifecycle: GC,
pointer-loss refusal, metadata-only drops, and equivalence with the
plain LakeTable pipeline."""

from __future__ import annotations

import os
import threading
from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.pipelines import run_pipeline_1
from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger
from bigdatapipelinepysparksqlserver_spark.sources import fs as fsmod
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
    SnapshotLakeTable,
)
from bigdatapipelinepysparksqlserver_spark.workload import (
    SourceTables,
    WorkloadGenerator,
)

T1 = datetime(2024, 6, 1, 12, 3, 42)
T2 = T1 + timedelta(days=1)


def _seed(spark, root, seed=42):
    src = SourceTables(spark, f"{root}/oltp")
    gen = WorkloadGenerator(src, seed=seed)
    gen.seed_dimensions(n_clients=30, n_products=10)
    return src, gen


def _totals(lake):
    """Whole-table invariant probe: (row count, exact paid cents,
    distinct partitions) — any half-done multi-partition rebuild
    changes at least one component."""
    r = lake.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("paid") * 100).cast("decimal(18,2)").cast("long")).alias("cents"),
        F.countDistinct("year_month", "country").alias("nparts"),
    ).first()
    return (r.n, int(r.cents or 0), r.nparts)


@pytest.mark.parametrize("fs_cls", ["LocalFS", "ObjectStoreSimFS"])
@pytest.mark.slow
def test_cdc_rebuild_reader_hammer(spark, tmp_path, fs_cls):
    """Readers hammering the lake DURING run 2's multi-partition CDC
    rebuild (inserts + updates + deletes across 2 year_months × many
    countries) must observe exactly snapshot-1 totals or snapshot-2
    totals — the lake twin of the mart/store reader-hammer proofs."""
    fs = getattr(fsmod, fs_cls)()
    root = str(tmp_path)
    src, gen = _seed(spark, root)
    lake = SnapshotLakeTable(spark, f"{root}/lake", fs=fs)
    ledger = RunLedger(spark, f"{root}/ledger")

    gen.insert_sales(120, batch=1, now=T1, spread_days=10)
    run_pipeline_1(spark, src, lake, ledger, now=T1)
    before = _totals(lake)
    assert before[0] == 120 and before[2] > 5

    stamp = T2 - timedelta(hours=1)
    gen.insert_sales(40, batch=2, now=stamp, spread_days=10)
    gen.update_sales(batch=2, now=stamp, p=0.10)
    gen.delete_sales(batch=2, now=stamp, p=0.05)

    stop = threading.Event()
    observed: set = set()
    failures: list = []

    def hammer():
        while not stop.is_set():
            try:
                observed.add(_totals(lake))
            except Exception as e:  # noqa: BLE001 — surface in main thread
                failures.append(e)
                return

    t = threading.Thread(target=hammer)
    t.start()
    try:
        rep2 = run_pipeline_1(spark, src, lake, ledger, now=T2)
    finally:
        stop.set()
        t.join()
    after = _totals(lake)
    assert not failures, f"reader failed during rebuild: {failures[0]}"
    assert observed, "hammer never completed a read"
    assert observed <= {before, after}, (
        f"mixed-snapshot reads: {observed - {before, after}}"
    )
    assert after != before
    assert rep2["validation"].status == "SUCCESSFUL"
    assert len(rep2["rebuilt_partitions"]) >= 2  # multi-partition rebuild


@pytest.mark.slow
def test_snapshot_lake_matches_plain_lake_pipeline(spark, tmp_path):
    """Equivalence oracle: the same seeded two-run workload through a
    SnapshotLakeTable and a plain LakeTable yields identical lake
    content (row-level), identical partition sets, and identical
    reconciliation verdicts — the manifest protocol changes visibility,
    never results."""
    roots = {k: str(tmp_path / k) for k in ("snap", "plain")}
    lakes = {}
    for kind, root in roots.items():
        src, gen = _seed(spark, root)
        lake = (
            SnapshotLakeTable(spark, f"{root}/lake")
            if kind == "snap"
            else LakeTable(spark, f"{root}/lake")
        )
        ledger = RunLedger(spark, f"{root}/ledger")
        gen.insert_sales(120, batch=1, now=T1, spread_days=10)
        run_pipeline_1(spark, src, lake, ledger, now=T1)
        stamp = T2 - timedelta(hours=1)
        gen.insert_sales(40, batch=2, now=stamp, spread_days=1)
        gen.update_sales(batch=2, now=stamp, p=0.05)
        gen.delete_sales(batch=2, now=stamp, p=0.03)
        rep = run_pipeline_1(spark, src, lake, ledger, now=T2)
        assert rep["validation"].status == "SUCCESSFUL"
        lakes[kind] = lake

    cols = sorted(lakes["plain"].read().columns)
    rows = {
        k: sorted(map(tuple, v.read().select(*cols).collect()))
        for k, v in lakes.items()
    }
    assert rows["snap"] == rows["plain"] and len(rows["snap"]) > 0
    parts = {
        k: sorted(map(tuple, v.partitions().collect())) for k, v in lakes.items()
    }
    assert parts["snap"] == parts["plain"]


@pytest.mark.slow
def test_delete_to_empty_partition_drops_from_manifest(spark, tmp_path):
    """A changed partition whose rows were ALL deleted in the window
    must vanish from the next snapshot — the manifest swap's built-in
    delete-to-empty cleanup (the plain lake needs an explicit diff +
    drop for this)."""
    root = str(tmp_path)
    src, gen = _seed(spark, root)
    lake = SnapshotLakeTable(spark, f"{root}/lake")
    ledger = RunLedger(spark, f"{root}/ledger")

    # batch 1: a single 1-day spread → few partitions
    gen.insert_sales(30, batch=1, now=T1, spread_days=1)
    run_pipeline_1(spark, src, lake, ledger, now=T1)
    before = {tuple(r) for r in lake.partitions().collect()}
    assert before

    # delete EVERY sale, stamped inside run 2's window
    stamp = T2 - timedelta(hours=1)
    gen.delete_sales(batch=2, now=stamp, p=1.0)
    run_pipeline_1(spark, src, lake, ledger, now=T2)
    assert lake.current_manifest() == {}
    assert lake.read().count() == 0
    # schema survives the legitimately-empty state
    assert "year_month" in lake.read().columns


def test_publish_gc_and_retain(spark, tmp_path):
    """retain=1: the previous manifest and every partition dir it
    references survive one publish (in-flight readers), older ones are
    reaped; unreferenced txn dirs disappear."""
    root = str(tmp_path / "lake")
    lake = SnapshotLakeTable(spark, root, retain=1)
    df = spark.createDataFrame(
        [(i, 202405 + (i % 2), "US", float(i)) for i in range(8)],
        "id int, year_month int, country string, paid double",
    ).select("id", "paid", "year_month", "country")
    lake.write_full(df)
    assert lake.current_id() == 1
    lake.overwrite_partitions(df.where(F.col("year_month") == 202405))
    lake.overwrite_partitions(df.where(F.col("year_month") == 202406))
    assert lake.current_id() == 3
    mids = sorted(
        n for n in os.listdir(f"{root}/manifests") if n.endswith(".json")
    )
    assert mids == ["m2.json", "m3.json"]
    # txn=1's year_month=202405 dir was superseded in m2 and m3 but
    # 202406 in txn=1 is still referenced by m2 → txn=1 survives; after
    # one more publish of 202406, nothing references txn=1
    assert os.path.isdir(f"{root}/data/txn=1")
    lake.overwrite_partitions(df.where(F.col("year_month") == 202406))
    assert not os.path.isdir(f"{root}/data/txn=1")
    assert lake.read().count() == 8


def test_pointer_loss_refuses_publish(spark, tmp_path):
    """Lost _CURRENT with manifests on disk is a recoverable error,
    never a reap — same stance as publish_store_version."""
    root = str(tmp_path / "lake")
    lake = SnapshotLakeTable(spark, root)
    df = spark.createDataFrame(
        [(1, 202405, "US", 1.0)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(df)
    os.remove(f"{root}/_CURRENT")
    with pytest.raises(FileNotFoundError, match="restore the pointer"):
        lake.write_full(df)
    # data intact; restoring the pointer recovers
    assert os.path.isdir(f"{root}/data/txn=1")
    fsmod.LocalFS().set_pointer(f"{root}/_CURRENT", "m1")
    assert lake.read().count() == 1


def test_metadata_only_partition_drop(spark, tmp_path):
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(1, 202405, "US", 1.0), (2, 202406, "DE", 2.0)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(df)
    lake.drop_partition_values([(202405, "US")])
    assert [tuple(r) for r in lake.partitions().collect()] == [(202406, "DE")]
    assert lake.read().count() == 1


def test_partition_values_hive_escape_round_trip(spark, tmp_path):
    """ADVICE r9: partition values containing characters Spark
    %XX-escapes in directory names (':', '/', '=', space-adjacent
    specials) and NULL (__HIVE_DEFAULT_PARTITION__) must round-trip
    through partitions() UNESCAPED, and a drop composed from the raw
    value must actually match the manifest entry."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month", "country"),
        schema="id long, paid double, year_month int, country string",
    )
    df = spark.createDataFrame(
        [
            (1, 1.0, 202405, "US:east"),
            (2, 2.0, 202405, "a/b=c"),
            (3, 3.0, 202406, None),
            (4, 4.0, 202406, "plain"),
        ],
        "id long, paid double, year_month int, country string",
    )
    lake.write_full(df)
    key = lambda t: (t[0], t[1] or "")  # noqa: E731
    got = sorted(
        ((r.year_month, r.country) for r in lake.partitions().collect()),
        key=key,
    )
    assert got == sorted(
        [(202405, "US:east"), (202405, "a/b=c"), (202406, None), (202406, "plain")],
        key=key,
    )
    # drop built from the RAW (unescaped) values must match
    lake.drop_partition_values([(202405, "US:east"), (202406, None)])
    got = sorted(
        (r.year_month, r.country) for r in lake.partitions().collect()
    )
    assert got == [(202405, "a/b=c"), (202406, "plain")]
    assert sorted(r.id for r in lake.read().collect()) == [2, 4]


def test_manifest_zone_map_pruning(spark, tmp_path):
    """r10 zone maps: per-partition [min, max] of configured columns
    recorded in the manifest at publish; read_pruned/pruned_partitions
    prune on NON-partition columns driver-side from pure metadata —
    conservative for missing stats, exact-equal results vs full scan +
    filter, decimal bounds widened so float rounding can only widen a
    zone, and carried (unchanged) partitions keep their stats across
    later publishes."""
    from datetime import datetime as dt
    from decimal import Decimal

    from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
        SnapshotLakeTable,
    )

    schema = (
        "id long, ts timestamp, paid decimal(18,2),"
        " year_month int, country string"
    )
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month", "country"),
        schema=schema,
        retain=2,
        stats_cols=("ts", "paid"),
    )
    rows = [
        (1, dt(2024, 5, 3, 10, 0), Decimal("10.00"), 202405, "US"),
        (2, dt(2024, 5, 28, 9, 0), Decimal("20.50"), 202405, "US"),
        (3, dt(2024, 6, 2, 8, 0), Decimal("99.99"), 202406, "DE"),
        (4, dt(2024, 7, 15, 7, 0), Decimal("5.25"), 202407, "DE"),
    ]
    lake.write_full(spark.createDataFrame(rows, schema))

    st = lake.current_stats()
    assert set(st) == {
        "year_month=202405/country=US",
        "year_month=202406/country=DE",
        "year_month=202407/country=DE",
    }
    # a June-only time probe prunes to the June partition
    keep = lake.pruned_partitions(
        {"ts": (dt(2024, 6, 1), dt(2024, 6, 30))}
    )
    assert list(keep) == ["year_month=202406/country=DE"]
    got = lake.read_pruned({"ts": (dt(2024, 6, 1), dt(2024, 6, 30))})
    want = lake.read().where(
        "ts BETWEEN '2024-06-01' AND '2024-06-30'"
    )
    assert sorted(r.id for r in got.where(
        "ts BETWEEN '2024-06-01' AND '2024-06-30'").collect()
    ) == sorted(r.id for r in want.collect()) == [3]

    # decimal boundary: probing exactly a partition's max must keep it
    # (stored bounds are ulp-widened floats — never exclude the edge)
    keep = lake.pruned_partitions({"paid": (Decimal("20.50"), None)})
    assert "year_month=202405/country=US" in keep
    assert "year_month=202406/country=DE" in keep
    assert "year_month=202407/country=DE" not in keep

    # a later publish touching ONE partition: carried partitions keep
    # their zones, the rewritten one gets fresh zones
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9, dt(2024, 6, 20, 6, 0), Decimal("1.00"), 202406, "DE")],
            schema,
        )
    )
    st2 = lake.current_stats()
    assert st2["year_month=202405/country=US"] == st["year_month=202405/country=US"]
    assert st2["year_month=202406/country=DE"] != st["year_month=202406/country=DE"]
    # the June partition's paid zone now tops out at 1.00
    keep = lake.pruned_partitions({"paid": (Decimal("50"), None)})
    assert "year_month=202406/country=DE" not in keep

    # conservative fallback: partitions published WITHOUT stats_cols
    # are always kept
    bare = SnapshotLakeTable(
        spark,
        str(tmp_path / "bare"),
        partition_cols=("year_month", "country"),
        schema=schema,
        stats_cols=(),
    )
    bare.write_full(spark.createDataFrame(rows, schema))
    with_stats = SnapshotLakeTable(
        spark,
        str(tmp_path / "bare"),
        partition_cols=("year_month", "country"),
        schema=schema,
        stats_cols=("ts",),
    )
    with_stats.overwrite_partitions(
        spark.createDataFrame(
            [(9, dt(2024, 6, 20), Decimal("1.00"), 202406, "DE")], schema
        )
    )
    keep = with_stats.pruned_partitions({"ts": (dt(2030, 1, 1), None)})
    # stat-less partitions kept (conservative); the stated June one
    # has a zone and is provably out of range
    assert "year_month=202406/country=DE" not in keep
    assert "year_month=202405/country=US" in keep


@pytest.mark.slow
def test_snapshot_diff_partition_and_row_level(spark, tmp_path):
    """r10 snapshot diff: partition-grain changes from pure manifest
    metadata (txn identity = complete change detector), row-level
    insert/delete diff scanning ONLY changed partitions; an update
    shows as delete+insert; unchanged partitions never read."""
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"), retain=3)
    schema = "id int, year_month int, country string, paid double"
    v1_rows = [
        (1, 202405, "US", 1.0),
        (2, 202406, "DE", 2.0),
        (3, 202407, "FR", 3.0),
    ]
    lake.write_full(spark.createDataFrame(v1_rows, schema))
    m1 = lake.current_id()
    # rewrite June (update row 2 -> 20.0 and add row 4), add August,
    # drop July
    lake.overwrite_partitions(
        spark.createDataFrame(
            [
                (2, 202406, "DE", 20.0),
                (4, 202406, "DE", 4.0),
                (5, 202408, "US", 5.0),
            ],
            schema,
        )
    )
    lake.drop_partition_values([(202407, "FR")])
    m2 = lake.current_id()

    d = lake.snapshot_diff(m1, m2)
    assert d == {
        "added": ["year_month=202408/country=US"],
        "removed": ["year_month=202407/country=FR"],
        "rewritten": ["year_month=202406/country=DE"],
    }
    got = sorted(
        (r.change, r.id, r.paid)
        for r in lake.snapshot_diff_rows(m1, m2).collect()
    )
    assert got == [
        ("delete", 2, 2.0),
        ("delete", 3, 3.0),
        ("insert", 2, 20.0),
        ("insert", 4, 4.0),
        ("insert", 5, 5.0),
    ]
    # reverse direction inverts the roles
    rev = lake.snapshot_diff(m2, m1)
    assert rev["added"] == ["year_month=202407/country=FR"]
    assert rev["removed"] == ["year_month=202408/country=US"]
    # identical snapshots: empty diff, zero rows scanned
    assert lake.snapshot_diff(m2, m2) == {
        "added": [], "removed": [], "rewritten": []
    }
    assert lake.snapshot_diff_rows(m2, m2).count() == 0


def test_additive_schema_evolution(spark, tmp_path):
    """r10 schema evolution: a publish carrying a NEW column records
    the merged schema in the manifest; read() fills NULL for
    pre-evolution partitions (no rewrite), time travel reads each
    snapshot under its OWN schema, the row diff aligns across the
    evolution, and a type CHANGE is refused."""
    import pytest as _pytest

    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month", "country"),
        schema="id int, paid double, year_month int, country string",
        retain=3,
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, 1.0, 202405, "US"), (2, 2.0, 202406, "DE")],
            "id int, paid double, year_month int, country string",
        )
    )
    m1 = lake.current_id()
    # evolve: June rewritten WITH a channel column
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(3, 3.0, "web", 202406, "DE")],
            "id int, paid double, channel string, year_month int, country string",
        )
    )
    m2 = lake.current_id()

    live = lake.read()
    assert "channel" in live.columns
    got = {r.id: r.channel for r in live.collect()}
    assert got == {1: None, 3: "web"}  # pre-evolution partition fills NULL
    assert [f.name for f in lake.live_schema().fields] == [
        "id", "paid", "year_month", "country", "channel",
    ]
    # time travel: snapshot 1 has no channel column
    assert "channel" not in lake.read_snapshot(m1).columns
    # row diff across the evolution aligns on the merged schema
    diff = {
        (r.change, r.id): r.channel
        for r in lake.snapshot_diff_rows(m1, m2).collect()
    }
    assert diff == {("delete", 2): None, ("insert", 3): "web"}
    # a later publish WITHOUT the new column keeps it in the merged
    # schema (additive — columns never silently vanish)
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(4, 4.0, 202407, "FR")],
            "id int, paid double, year_month int, country string",
        )
    )
    assert "channel" in lake.read().columns
    # incompatible type change refused, naming the column
    with _pytest.raises(ValueError, match="'paid'.*not a safe widening"):
        lake.overwrite_partitions(
            spark.createDataFrame(
                [(5, "oops", 202408, "US")],
                "id int, paid string, year_month int, country string",
            )
        )


def test_type_widening_schema_evolution(spark, tmp_path):
    """VERDICT r10 #2: safe type WIDENING on the snapshot lake — a
    publish carrying a widened column (int->long, float->double,
    decimal(18,2)->(28,2): the SURVEY §1.2 decimal seam) records the
    wider type in the manifest; readers upcast pre-widening files in
    place (no rewrite); a later NARROW publish still reads under the
    recorded wide type; unsafe changes raise naming the column."""
    import pytest as _pytest
    from decimal import Decimal

    from pyspark.sql import types as T

    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month",),
        schema="id int, qty float, amount decimal(18,2), year_month int",
        retain=3,
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, 1.5, Decimal("10.25"), 202405)],
            "id int, qty float, amount decimal(18,2), year_month int",
        )
    )
    # widen all three in one publish of a NEW partition (old files
    # keep their narrow physical types — no rewrite)
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(2**40, 2.5, Decimal("99999999999999999999999999.99"), 202406)],
            "id long, qty double, amount decimal(28,2), year_month int",
        )
    )
    live = lake.read()
    types = {f.name: f.dataType for f in live.schema.fields}
    assert types["id"] == T.LongType()
    assert types["qty"] == T.DoubleType()
    assert types["amount"] == T.DecimalType(28, 2)
    rows = {r.id: (r.qty, r.amount) for r in live.collect()}
    assert rows[1] == (1.5, Decimal("10.25"))          # upcast in place
    assert rows[2**40] == (
        2.5, Decimal("99999999999999999999999999.99"),
    )
    # a later publish at the OLD narrow types still merges to wide
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(3, 3.5, Decimal("7.00"), 202407)],
            "id int, qty float, amount decimal(18,2), year_month int",
        )
    )
    live2 = lake.read()
    assert {f.name: f.dataType for f in live2.schema.fields}["id"] == T.LongType()
    assert live2.count() == 3
    # scale growth widens too (s grows, integer digits kept)
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(4, 4.5, Decimal("1.2345"), 202408)],
            "id int, qty float, amount decimal(30,4), year_month int",
        )
    )
    assert {
        f.name: f.dataType for f in lake.read().schema.fields
    }["amount"] == T.DecimalType(30, 4)
    # a NARROWER decimal that still fits under the recorded wide type
    # is a plain narrow publish (merged schema stays (30,4)) — but two
    # decimals where NEITHER covers the other's integer digits AND
    # scale are incomparable -> refused by column name
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(5, 5.5, Decimal("1.23"), 202409)],
            "id int, qty float, amount decimal(4,3), year_month int",
        )
    )
    assert {
        f.name: f.dataType for f in lake.read().schema.fields
    }["amount"] == T.DecimalType(30, 4)
    with _pytest.raises(ValueError, match="'amount'.*not a safe widening"):
        lake.overwrite_partitions(
            spark.createDataFrame(
                [(7, 7.5, Decimal("0.12345678"), 202411)],
                "id int, qty float, amount decimal(10,8), year_month int",
            )
        )
    # float -> decimal is not a widening either
    with _pytest.raises(ValueError, match="'qty'.*not a safe widening"):
        lake.overwrite_partitions(
            spark.createDataFrame(
                [(6, Decimal("1.00"), Decimal("1.00"), 202410)],
                "id int, qty decimal(10,2), amount decimal(18,2), year_month int",
            )
        )


def test_read_is_pinned_across_publish(spark, tmp_path):
    """A DataFrame resolved before a rebuild keeps answering from ITS
    snapshot afterwards (retain window) — the repeatable-read property
    a dynamic-overwrite table cannot offer."""
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"), retain=1)
    mk = lambda paid: spark.createDataFrame(  # noqa: E731
        [(1, 202405, "US", paid)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(mk(1.0))
    pinned = lake.read()
    lake.overwrite_partitions(mk(99.0))
    assert pinned.agg(F.sum("paid")).first()[0] == 1.0
    assert lake.read().agg(F.sum("paid")).first()[0] == 99.0


def test_time_travel_and_rollback(spark, tmp_path):
    """read_snapshot(mid) answers the table AS OF that publish within
    the retain window; rollback() is a pure pointer swap. The
    rolled-back-FROM manifest is a once-live snapshot a retain-window
    reader may be pinned to (ADVICE r9): the next publish must NOT reap
    it as a crashed orphan — it stays readable and ages out of the
    retain window like any other snapshot."""
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"), retain=2)
    mk = lambda paid: spark.createDataFrame(  # noqa: E731
        [(1, 202405, "US", paid), (2, 202406, "DE", paid * 2)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(mk(1.0))
    lake.overwrite_partitions(mk(10.0))
    lake.overwrite_partitions(mk(100.0))
    assert lake.snapshots() == [1, 2, 3]

    assert lake.read_snapshot(1).agg(F.sum("paid")).first()[0] == 3.0
    assert lake.read_snapshot(2).agg(F.sum("paid")).first()[0] == 30.0
    assert lake.read().agg(F.sum("paid")).first()[0] == 300.0

    assert lake.rollback(2) == 2
    assert lake.read().agg(F.sum("paid")).first()[0] == 30.0
    # a reader pinned to the rolled-back-from snapshot BEFORE the next
    # publish must keep resolving (the r9 bug reaped its files here)
    pinned = lake.read_snapshot(3)
    lake.overwrite_partitions(mk(7.0))
    assert lake.current_id() == 4  # allocates PAST the survivor
    assert lake.read().agg(F.sum("paid")).first()[0] == 21.0
    assert pinned.agg(F.sum("paid")).first()[0] == 300.0
    assert lake.read_snapshot(3).agg(F.sum("paid")).first()[0] == 300.0

    # a GENUINE crashed publish (manifest + txn above the high-water
    # mark, pointer never swapped) is still reaped by the next publish
    lake.fs.set_pointer(
        f"{lake.root}/manifests/m9.json", '{"id": 9, "txns": {}}'
    )
    lake.fs.makedirs(f"{lake.root}/data/txn=9/year_month=209901/country=XX")
    lake.overwrite_partitions(mk(2.0))
    assert lake.current_id() == 5
    assert 9 not in lake.snapshots()
    assert not lake.fs.is_dir(f"{lake.root}/data/txn=9")

    with pytest.raises(FileNotFoundError, match="widen retain"):
        lake.rollback(99)


def test_streaming_sink_publishes_atomic_snapshots(spark, tmp_path):
    """The existing foreachBatch partition-overwrite sink duck-types
    onto SnapshotLakeTable: each micro-batch becomes ONE atomic
    manifest publish (continuous CDC with snapshot isolation). Replays
    are idempotent in CONTENT (C4) and an empty batch publishes
    nothing; every batch leaves a whole readable snapshot behind."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_partition_overwrite,
    )

    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("event_type",),
        schema="event_id long, ts timestamp, amount double, event_type string",
        retain=3,
    )
    rows = [
        (1, datetime(2024, 1, 1, 10, 5), "purchase", 10.0),
        (2, datetime(2024, 1, 1, 10, 55), "purchase", 20.0),
        (3, datetime(2024, 1, 1, 11, 5), "view", 0.0),
    ]
    schema = "event_id long, ts timestamp, event_type string, amount double"
    batch = spark.createDataFrame(rows, schema)
    sink = foreach_batch_partition_overwrite(lake)

    sink(batch, 0)
    assert lake.read().count() == 3
    v1 = lake.current_id()
    # replay: content-idempotent; a NEW snapshot id is fine (the
    # manifest swap is the visibility event, content is identical)
    sink(batch, 0)
    assert lake.read().count() == 3
    assert sorted(map(tuple, lake.read_snapshot(v1).collect())) == sorted(
        map(tuple, lake.read().collect())
    )
    # empty batch: no publish at all (isEmpty() short-circuit)
    before = lake.current_id()
    sink(batch.where("event_id < 0"), 1)
    assert lake.current_id() == before
    # later batch touching ONE partition leaves the other intact
    sink(
        spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 12, 0), "view", 1.5)], schema
        ),
        2,
    )
    got = {
        (r.event_type, r.event_id) for r in lake.read().collect()
    }
    assert got == {("purchase", 1), ("purchase", 2), ("view", 9)}


@pytest.mark.slow
def test_randomized_lifecycle_matches_dict_model(spark, tmp_path):
    """Model-based check: a deterministic random sequence of 24
    operations (full load, partition overwrite, rebuild-with-drops,
    metadata drop, rollback) against SnapshotLakeTable must track a
    plain dict {partition: rows} model exactly after EVERY step — the
    manifest lifecycle has no op-order-dependent state. The lake runs
    with zone maps on (stats_cols=paid) and every step additionally
    probes a random paid range through read_pruned, which must equal
    the model's filtered rows — pruning is provably lossless across
    the whole op mix (carried stats, drops, rollbacks)."""
    import random

    rng = random.Random(0)
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month", "country"),
        schema="id long, paid double, year_month int, country string",
        retain=2,
        stats_cols=("paid",),
    )
    YMS = [202401, 202402, 202403]
    CTS = ["US", "DE"]
    model: dict = {}
    next_id = [0]

    def make_rows(parts, n_per=2):
        rows = []
        for ym, ct in parts:
            for _ in range(n_per):
                next_id[0] += 1
                rows.append((next_id[0], float(next_id[0]), ym, ct))
        return rows

    def df_of(rows):
        return spark.createDataFrame(
            rows, "id long, paid double, year_month int, country string"
        )

    def check():
        got = sorted(
            (r.id, r.paid, r.year_month, r.country)
            for r in lake.read().collect()
        )
        want = sorted(row for rows in model.values() for row in rows)
        assert got == want
        got_parts = sorted(map(tuple, lake.partitions().collect()))
        assert got_parts == sorted(model.keys())
        # zone-map losslessness: a random paid range through
        # read_pruned + the row filter == the model filtered directly
        lo = rng.uniform(0, next_id[0] or 1)
        hi = lo + rng.uniform(0, next_id[0] or 1)
        pruned = sorted(
            r.id
            for r in lake.read_pruned({"paid": (lo, hi)})
            .where(f"paid >= {lo} AND paid <= {hi}")
            .collect()
        )
        want_ids = sorted(
            row[0]
            for rows in model.values()
            for row in rows
            if lo <= row[1] <= hi
        )
        assert pruned == want_ids, f"paid in [{lo}, {hi}]"

    states_by_mid: dict = {}
    for step in range(24):
        op = rng.choice(["full", "overwrite", "rebuild", "drop", "rollback"])
        if op == "full":
            parts = [
                (ym, ct) for ym in YMS for ct in CTS if rng.random() < 0.6
            ]
            rows = make_rows(parts)
            lake.write_full(df_of(rows))
            model = {}
            for row in rows:
                model.setdefault((row[2], row[3]), []).append(row)
        elif op == "overwrite":
            parts = [(rng.choice(YMS), rng.choice(CTS))]
            rows = make_rows(parts)
            lake.overwrite_partitions(df_of(rows))
            for p in parts:
                model[p] = []
            for row in rows:
                model[(row[2], row[3])].append(row)
        elif op == "rebuild":
            changed = [ym for ym in YMS if rng.random() < 0.5] or [YMS[0]]
            parts = [
                (ym, ct)
                for ym in changed
                for ct in CTS
                if rng.random() < 0.5
            ]
            rows = make_rows(parts)
            lake.apply_rebuild(df_of(rows), changed_year_months=changed)
            model = {
                p: v for p, v in model.items() if p[0] not in set(changed)
            }
            for p in parts:
                model[p] = []
            for row in rows:
                model[(row[2], row[3])].append(row)
        elif op == "drop":
            if model:
                victim = rng.choice(sorted(model))
                lake.drop_partition_values([victim])
                model.pop(victim)
            else:
                continue
        else:  # rollback to the previous retained snapshot, if any
            ids = lake.snapshots()
            cur = lake.current_id()
            older = [i for i in ids if i < (cur or 0) and i in states_by_mid]
            if not older:
                continue
            target = older[-1]
            lake.rollback(target)
            model = {p: list(v) for p, v in states_by_mid[target].items()}
        mid = lake.current_id()
        if mid is not None:
            # renumbering after a rollback overwrites the old id's state
            states_by_mid[mid] = {p: list(v) for p, v in model.items()}
        check()


def test_snapshot_read_keeps_partition_pruning(spark, tmp_path, executed_plan):
    """The explicit leaf-dir list under one basePath must preserve
    Catalyst's PartitionFilters pruning on the partition columns (the
    scan property that makes partition-grain CDC affordable), and the
    synthetic txn level must not leak into the schema."""
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(i, 202401 + i % 3, "US", 1.0) for i in range(9)],
        "id long, year_month int, country string, paid double",
    )
    lake.write_full(df)
    probe = lake.read().where(F.col("year_month") == 202402)
    assert "txn" not in probe.columns
    plan = executed_plan(probe)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "year_month" in seg and "202402" in seg
    assert probe.count() == 3


def test_pinned_reader_bounded_by_retain_window(spark, tmp_path):
    """The retain contract's honest boundary: a DataFrame pinned to
    snapshot 1 survives `retain` subsequent publishes (its files are
    retained for exactly that window) and then legitimately BREAKS
    once GC reclaims them — the same in-flight-reader economics as the
    mart/store publishers, pinned here so the trade-off is documented
    behavior, not a surprise."""
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"), retain=1)
    mk = lambda paid: spark.createDataFrame(  # noqa: E731
        [(1, 202405, "US", paid)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(mk(1.0))
    pinned = lake.read()
    lake.overwrite_partitions(mk(2.0))  # v1 still retained
    assert pinned.agg(F.sum("paid")).first()[0] == 1.0
    lake.overwrite_partitions(mk(3.0))  # v1 GC'd
    try:
        val = pinned.agg(F.sum("paid")).first()[0]
    except Exception:
        val = None  # expected: the pinned snapshot's files are gone
    # the one unacceptable outcome is a SILENT stale answer — the
    # reader must either error (files reclaimed) or observe emptiness
    assert val != 1.0, "GC'd snapshot silently readable as if retained"


def test_register_view_sql_facade(spark, tmp_path):
    lake = SnapshotLakeTable(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(1, 202405, "US", 5.0), (2, 202406, "DE", 7.0)],
        "id int, year_month int, country string, paid double",
    )
    lake.write_full(df)
    lake.register_view("snap_sales")
    got = spark.sql(
        "SELECT country, SUM(paid) AS paid FROM snap_sales GROUP BY country"
    ).collect()
    assert sorted((r.country, r.paid) for r in got) == [("DE", 7.0), ("US", 5.0)]
    # the view pins the snapshot it was registered on
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9, 202405, "US", 99.0)],
            "id int, year_month int, country string, paid double",
        )
    )
    assert spark.sql("SELECT SUM(paid) FROM snap_sales").first()[0] == 12.0
    lake.register_view("snap_sales")  # re-register -> live snapshot
    assert spark.sql("SELECT SUM(paid) FROM snap_sales").first()[0] == 106.0


def test_read_where_prunes_from_sql_predicate(spark, tmp_path):
    """VERDICT r10 #3: read_where / register_view(where=...) give SQL
    consumers manifest-level zone pruning on NON-partition columns —
    a probe outside every zone opens ZERO parquet files, an inside
    probe opens only the matching partitions, and results always equal
    read().where(predicate) exactly."""
    from datetime import datetime as dt
    from decimal import Decimal

    from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
        SnapshotLakeTable,
        extract_prune_ranges,
    )

    schema = (
        "id long, ts timestamp, paid decimal(18,2),"
        " year_month int, country string"
    )
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("year_month", "country"),
        schema=schema,
        retain=2,
        stats_cols=("ts", "paid"),
    )
    rows = [
        (1, dt(2024, 5, 3, 10, 0), Decimal("10.00"), 202405, "US"),
        (2, dt(2024, 5, 28, 9, 0), Decimal("20.50"), 202405, "US"),
        (3, dt(2024, 6, 2, 8, 0), Decimal("99.99"), 202406, "DE"),
        (4, dt(2024, 7, 15, 7, 0), Decimal("5.25"), 202407, "DE"),
    ]
    lake.write_full(spark.createDataFrame(rows, schema))

    # outside every zone: the explicit-path scan is EMPTY — zero files
    out = lake.read_where("ts >= '2030-01-01'")
    assert out.inputFiles() == []
    assert out.count() == 0

    # inside: only the June partition's file is opened
    june = lake.read_where(
        "ts >= '2024-06-01' AND ts < '2024-07-01'"
    )
    files = june.inputFiles()
    assert len(files) == 1 and "year_month=202406" in files[0]
    assert [r.id for r in june.collect()] == [3]

    # equality + decimal bound, mixed with an unextractable conjunct
    # (still pruned by the extractable part, filtered by the full
    # predicate)
    got = lake.read_where("paid >= 50 AND id % 2 = 1")
    assert len(got.inputFiles()) == 1
    assert [r.id for r in got.collect()] == [3]

    # the boundary day's PARTITION is never pruned by a date-only
    # upper bound (the widened '2024-06-02~' keeps the June zone); the
    # row filter then decides — Spark casts the literal to midnight,
    # so row 3 (08:00) is row-filtered out, exactly like read().where
    b = lake.read_where("ts <= '2024-06-02'")
    assert any("year_month=202406" in f for f in b.inputFiles())
    assert {r.id for r in b.collect()} == {
        r.id for r in lake.read().where("ts <= '2024-06-02'").collect()
    } == {1, 2}

    # equivalence sweep: read_where == read().where for every shape,
    # including unprunable ones (OR, functions) that fall back whole
    for pred in (
        "ts >= '2024-06-01' AND ts < '2024-07-01'",
        "paid BETWEEN 10 AND 30",
        "paid = 99.99",
        "'2024-06-01' <= ts AND paid > 1",
        "id = 1 OR id = 4",
        "year(ts) = 2024 AND paid < 11",
        "country = 'US'",
    ):
        want = sorted(r.id for r in lake.read().where(pred).collect())
        got = sorted(r.id for r in lake.read_where(pred).collect())
        assert got == want, (pred, got, want)

    # SQL facade: a pruned view behaves like the predicate, with the
    # pruning visible in the file count
    lake.register_view("lake_june", where="ts >= '2024-06-01' AND ts < '2024-07-01'")
    assert [
        r.id for r in spark.sql("SELECT id FROM lake_june").collect()
    ] == [3]

    # extractor conservatism unit checks
    assert extract_prune_ranges("a >= 1 AND a < 5", ["a"]) == {"a": (1, 5)}
    assert extract_prune_ranges("a in (1, 2)", ["a"]) == {}
    assert extract_prune_ranges("NOT a = 1", ["a"]) == {}
    assert extract_prune_ranges("upper(c) = 'X'", ["c"]) == {}
    assert extract_prune_ranges("b = 'o''brien'", ["b"]) == {}  # quoted quote
    # string-literal CONTENTS can never fake a conjunct (r11 review:
    # the structural split must run on quote-masked text, or a literal
    # like 'x and a > 5' produces a WRONG bound and drops rows)
    assert extract_prune_ranges("note = 'abc and a > 5 and x'", ["a"]) == {}
    assert extract_prune_ranges("note = 'a between 1 and 2'", ["a"]) == {}
    assert extract_prune_ranges(
        "note = 'or maybe' AND a >= 3", ["a", "note"]
    ) == {"note": ("or maybe", "or maybe"), "a": (3, None)}
    # == parses in the forward direction too (alternation order)
    assert extract_prune_ranges("a == 5", ["a"]) == {"a": (5, 5)}
    # spaced string literals inside BETWEEN survive the masking; the
    # LOWER bound is weakened to its date prefix (r11 review: the full
    # spelling wrong-prunes DATE-typed zones, where Spark casts the
    # literal by truncation, and 'T'-separated spellings)
    assert extract_prune_ranges(
        "ts BETWEEN '2024-05-01 00:00:00' AND '2024-06-30 12:00:00'", ["ts"]
    ) == {"ts": ("2024-05-01", "2024-06-30 12:00:00~")}


def test_sharded_manifest_lifecycle(spark, tmp_path):
    """VERDICT r10 #7: manifests past the shard threshold split into
    bounded m<N>.shards/s<k>.json files, transparently to every reader
    — read, zone pruning (stats travel in the shards), carried-stats
    publish, metadata drop, rollback, and GC (no orphan shard dirs)."""
    import json as _json
    import os as _os
    from decimal import Decimal

    schema = "id long, paid decimal(18,2), year_month int, country string"
    root = str(tmp_path / "lake")
    lake = SnapshotLakeTable(
        spark,
        root,
        partition_cols=("year_month", "country"),
        schema=schema,
        retain=1,
        stats_cols=("paid",),
        manifest_shard_size=2,  # force sharding at tiny scale
    )
    rows = [
        (i, Decimal(f"{10 * i}.00"), 202400 + i, c)  # 5 distinct partitions
        for i, c in enumerate(["US", "DE", "FR", "US", "DE"], start=1)
    ]
    lake.write_full(spark.createDataFrame(rows, schema))
    m1 = lake.current_id()
    # 5 partitions / shard_size 2 -> 3 shards; the doc holds no txns
    doc = _json.loads(
        open(_os.path.join(root, "manifests", f"m{m1}.json")).read()
    )
    assert doc["txn_shards"] == 3 and "txns" not in doc
    assert sorted(_os.listdir(_os.path.join(root, "manifests", f"m{m1}.shards"))) == [
        "s0.json", "s1.json", "s2.json",
    ]
    assert len(lake.current_manifest()) == 5
    assert lake.read().count() == 5

    # zone maps round-trip through shards: prune on paid
    keep = lake.pruned_partitions({"paid": (Decimal("45"), None)})
    assert all("year_month=" in rel for rel in keep)
    assert {rel for rel in keep} == {
        rel
        for rel, st in lake.current_stats().items()
        if st["paid"][1] >= 45
    }
    got = {r.id for r in lake.read_where("paid >= 45").collect()}
    assert got == {5}

    # carried stats survive a partial overwrite (old shards reread)
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9, Decimal("1.00"), 202401, "US")], schema
        )
    )
    m2 = lake.current_id()
    assert lake.read().count() == 5  # id 1 replaced by id 9... same slot
    st2 = lake.current_stats()
    assert len(st2) == 5 and all("paid" in v for v in st2.values())

    # metadata-only drop keeps sharding consistent
    lake.drop_partition_values([(202402, "DE")])
    assert len(lake.current_manifest()) == 4

    # rollback to the retained previous snapshot still resolves shards
    lake.rollback(m2)
    assert lake.read().count() == 5

    # more publishes: GC must reap old shard dirs with their manifests
    for k in range(3):
        lake.overwrite_partitions(
            spark.createDataFrame(
                [(20 + k, Decimal("2.00"), 202401, "US")], schema
            )
        )
    mdir = _os.path.join(root, "manifests")
    manifest_ids = {
        int(n[1:-5]) for n in _os.listdir(mdir)
        if n.endswith(".json") and n[1:-5].isdigit()
    }
    shard_ids = {
        int(n[1:-7]) for n in _os.listdir(mdir)
        if n.endswith(".shards") and n[1:-7].isdigit()
    }
    assert shard_ids <= manifest_ids, (
        f"orphan shard dirs: {shard_ids - manifest_ids}"
    )
