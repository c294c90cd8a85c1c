"""Row-level MERGE on the snapshot lake (r11): merge_rows is a keyed
upsert/delete whose net change equals the scan-computed snapshot diff
exactly, rewriting only partitions that carry a net change."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
    SnapshotLakeTable,
)
from bigdatapipelinepysparksqlserver_spark.sources.pointer import (
    ConcurrentPublishError,
)


def _mk(spark, tmp_path, **kw):
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, note string, ym int",
        retain=6,
        **kw,
    )
    lake.write_full(
        spark.createDataFrame(
            [
                (1, 1.0, "a", 202405),
                (2, 2.0, "b", 202405),
                (3, 3.0, "c", 202406),
            ],
            "id int, amt double, note string, ym int",
        )
    )
    return lake


@pytest.mark.slow
def test_merge_rows_upsert_delete_move(spark, tmp_path):
    """One merge batch: update-in-place, update that MOVES partitions,
    insert, delete, and an identical (no-op) upsert. Net-change
    discipline: the no-op row's partition is rewritten only because
    other rows touch it; a fully-untouched partition keeps its owning
    txn; snapshot_diff_rows over the publish is exactly the net
    change."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=6,
    )
    lake.write_full(
        spark.createDataFrame(
            [
                (1, 1.0, 202405),
                (2, 2.0, 202405),
                (3, 3.0, 202406),
                (4, 4.0, 202407),
            ],
            "id int, amt double, ym int",
        )
    )
    pre = lake.current_id()
    untouched_txn = lake.current_manifest()["ym=202407"]

    src = spark.createDataFrame(
        [
            (1, 1.0, 202405, False),   # identical -> no net change
            (2, 22.0, 202406, False),  # update, moves 05 -> 06
            (3, None, None, True),     # delete
            (5, 5.0, 202405, False),   # insert
        ],
        "id int, amt double, ym int, is_del boolean",
    )
    res = lake.merge_rows(src, key_cols=["id"], delete_col="is_del")
    assert res["replaced"] == ["ym=202405", "ym=202406"]
    assert sorted((r.id, r.amt, r.ym) for r in lake.read().collect()) == [
        (1, 1.0, 202405),
        (2, 22.0, 202406),
        (4, 4.0, 202407),
        (5, 5.0, 202405),
    ]
    # untouched partition was not rewritten (same owning txn)
    assert lake.current_manifest()["ym=202407"] == untouched_txn
    # the scan-computed diff is exactly the net change
    diff = lake.snapshot_diff_rows(pre, lake.current_id())
    assert sorted((r.change, r.id) for r in diff.collect()) == [
        ("delete", 2),
        ("delete", 3),
        ("insert", 2),
        ("insert", 5),
    ]

    # delete the last row of a partition -> partition leaves the
    # manifest entirely
    lake.merge_rows(
        spark.createDataFrame(
            [(4, None, None, True)], "id int, amt double, ym int, is_del boolean"
        ),
        key_cols=["id"],
        delete_col="is_del",
    )
    assert "ym=202407" not in lake.current_manifest()

    # an all-no-op merge publishes NOTHING (snapshot id unchanged)
    before = lake.current_id()
    res3 = lake.merge_rows(
        spark.createDataFrame([(1, 1.0, 202405)], "id int, amt double, ym int"),
        key_cols=["id"],
    )
    assert res3 == {"written": [], "replaced": []}
    assert lake.current_id() == before

    # duplicate source keys refused
    with pytest.raises(ValueError, match="duplicate source keys"):
        lake.merge_rows(
            spark.createDataFrame(
                [(7, 1.0, 202405), (7, 2.0, 202406)],
                "id int, amt double, ym int",
            ),
            key_cols=["id"],
        )


def test_merge_zone_pruned_location_scan(spark, tmp_path):
    """With a key column in stats_cols, the matched-key location scan
    only touches partitions whose key zone intersects the batch's key
    range — the MERGE twin of read_where's manifest-level pruning."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=3,
        stats_cols=("id",),
    )
    # ids cluster by partition: ym=202405 holds 1-2, 202406 holds
    # 100-101, 202407 holds 200-201
    lake.write_full(
        spark.createDataFrame(
            [
                (1, 1.0, 202405), (2, 2.0, 202405),
                (100, 3.0, 202406), (101, 4.0, 202406),
                (200, 5.0, 202407), (201, 6.0, 202407),
            ],
            "id int, amt double, ym int",
        )
    )
    scanned: list[list[str]] = []
    orig = lake._scan_rels

    def spy(man, rels, rec=None):
        scanned.append(sorted(rels))
        return orig(man, rels, rec)

    lake._scan_rels = spy
    lake.merge_rows(
        spark.createDataFrame([(100, 33.0, 202406)], "id int, amt double, ym int"),
        key_cols=["id"],
    )
    lake._scan_rels = orig
    # first scan = location probe: zone-pruned to the one partition
    # whose id-zone can hold 100
    assert scanned[0] == ["ym=202406"]
    assert all("ym=202405" not in s for s in scanned)
    assert sorted((r.id, r.amt) for r in lake.read().collect()) == [
        (1, 1.0), (2, 2.0), (100, 33.0), (101, 4.0), (200, 5.0), (201, 6.0),
    ]


def test_merge_refuses_stale_snapshot(spark, tmp_path):
    """The publish-time expect_mid guard: a merge change set computed
    against a snapshot that is no longer live raises the retryable
    ConcurrentPublishError instead of publishing a stale delta."""
    lake = _mk(spark, tmp_path)
    stale = lake.current_id()
    lake.overwrite_partitions(
        spark.createDataFrame(
            [(9, 9.0, "z", 202408)], "id int, amt double, note string, ym int"
        )
    )
    df = spark.createDataFrame(
        [(1, 11.0, "a", 202405)], "id int, amt double, note string, ym int"
    )
    with pytest.raises(ConcurrentPublishError, match="snapshot moved"):
        lake._publish(
            df, replace_all=False, replace_rels=set(), expect_mid=stale
        )


def test_merge_null_fills_columns_the_batch_lacks(spark, tmp_path):
    """merge_rows follows the evolution rules: a merge batch missing a
    table column NULL-fills it in the replaced row and leaves the other
    rows of the partition as they were."""
    lake = _mk(spark, tmp_path)

    res = lake.merge_rows(
        spark.createDataFrame([(2, 22.0, 202405)], "id int, amt double, ym int"),
        key_cols=["id"],
    )
    assert res["replaced"] == ["ym=202405"]
    rows = {r.id: (r.amt, r.note) for r in lake.read().collect()}
    # the merged row NULL-fills the note column it didn't carry
    assert rows[2] == (22.0, None)
    assert rows[1] == (1.0, "a")


def test_history_metadata_board(spark, tmp_path):
    """history(): one metadata row per readable snapshot, newest
    first — parent chain, live flag, written-partition counts, zone
    coverage and schema width — without listing a single data file."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=6,
        stats_cols=("id",),
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, 1.0, 202405), (2, 2.0, 202406)], "id int, amt double, ym int"
        )
    )
    lake.overwrite_partitions(
        spark.createDataFrame([(3, 3.0, 202407)], "id int, amt double, ym int")
    )
    lake.overwrite_partitions(
        spark.createDataFrame([(4, 4.0, 202407)], "id int, amt double, ym int")
    )

    h = {r.snapshot_id: r for r in lake.history().collect()}
    assert sorted(h) == [1, 2, 3]
    ids = [r.snapshot_id for r in lake.history().collect()]
    assert ids == sorted(ids, reverse=True)  # newest first

    assert h[1].parent is None and not h[1].is_live
    assert h[1].partitions == 2 and h[1].partitions_written == 2
    assert h[1].zoned_partitions == 2

    assert h[2].parent == 1 and h[2].partitions == 3
    assert h[2].partitions_written == 1 and not h[2].is_live

    assert h[3].parent == 2 and h[3].is_live
    assert h[3].partitions == 3 and h[3].partitions_written == 1
    assert h[3].zoned_partitions == 3 and h[3].schema_columns == 3


def test_read_where_lower_bound_spelling_soundness(spark, tmp_path):
    """Review fix: date-ish LOWER bounds are weakened to their date
    prefix before probing zones — a time-bearing literal over a DATE
    column (Spark casts by truncation) and a 'T'-separated ISO literal
    over a TIMESTAMP column must both KEEP the partitions the row
    filter would keep (read_where ≡ read().where, always)."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, d date, ts timestamp, ym int",
        retain=2,
        stats_cols=("d", "ts"),
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, "2024-06-01", "2024-06-01 18:00:00", 202406)],
            "id int, d string, ts string, ym int",
        ).select(
            "id",
            F.col("d").cast("date").alias("d"),
            F.col("ts").cast("timestamp").alias("ts"),
            "ym",
        )
    )
    # DATE column, time-bearing literal: Spark truncates the literal
    # to 2024-06-01 so the row MATCHES — the zone probe must not prune
    for pred in (
        "d >= '2024-06-01 12:30:00'",
        "d = '2024-06-01 12:30:00'",
        "d BETWEEN '2024-06-01 12:30:00' AND '2024-06-02'",
    ):
        got = lake.read_where(pred).count()
        want = lake.read().where(pred).count()
        assert got == want, (pred, got, want)
    # TIMESTAMP column, 'T'-separated literal below the row's time:
    # the row matches; the space-vs-T spelling must not prune it
    for pred in (
        "ts >= '2024-06-01T12:30:00'",
        "ts > '2024-06-01T00:00:00'",
    ):
        got = lake.read_where(pred).count()
        want = lake.read().where(pred).count()
        assert got == want == 1, (pred, got, want)
    # pruning strength retained at day grain: a next-day probe prunes
    assert lake.read_where("ts >= '2024-06-02'").count() == 0


def test_merge_boolean_partition_spelling(spark, tmp_path):
    """Review fix: partition values whose str() differs from Spark's
    directory spelling (True vs 'true') resolve through the typed
    value index — a merge into a boolean-partitioned lake keeps every
    pre-existing row."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("flag",),
        schema="id int, amt double, flag boolean",
        retain=2,
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, 1.0, True), (2, 2.0, True), (3, 3.0, False)],
            "id int, amt double, flag boolean",
        )
    )
    res = lake.merge_rows(
        spark.createDataFrame([(2, 22.0, True)], "id int, amt double, flag boolean"),
        key_cols=["id"],
    )
    assert res["replaced"] == ["flag=true"]
    assert sorted((r.id, r.amt) for r in lake.read().collect()) == [
        (1, 1.0), (2, 22.0), (3, 3.0),
    ]
    # drop_partition_values resolves Python True -> dir 'true' too
    lake.drop_partition_values([(False,)])
    assert sorted(lake.current_manifest()) == ["flag=true"]


def test_merge_null_key_replay_safe(spark, tmp_path):
    """Review fix: NULL key components match null-safely (<=>), so
    replaying an already-applied NULL-keyed upsert cancels to an empty
    change set instead of inserting a duplicate."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=4,
    )
    lake.write_full(
        spark.createDataFrame([(1, 1.0, 202405)], "id int, amt double, ym int")
    )
    batch = spark.createDataFrame(
        [(None, 9.0, 202405)], "id int, amt double, ym int"
    )
    lake.merge_rows(batch, key_cols=["id"])
    mid = lake.current_id()
    assert lake.read().count() == 2
    # replay: the live NULL-keyed row matches null-safely -> no-op
    res = lake.merge_rows(batch, key_cols=["id"])
    assert res == {"written": [], "replaced": []}
    assert lake.current_id() == mid
    assert lake.read().count() == 2
    # and a NULL-keyed update replaces, never duplicates
    lake.merge_rows(
        spark.createDataFrame([(None, 10.0, 202405)], "id int, amt double, ym int"),
        key_cols=["id"],
    )
    assert sorted(
        ((r.id, r.amt) for r in lake.read().collect()), key=str
    ) == sorted([(1, 1.0), (None, 10.0)], key=str)
    # a merge writes its partitions and nothing else: no change feed
    assert not [p for p in (tmp_path / "lake").rglob("_cdf") if p.is_dir()]


def test_apply_rebuild_drop_single_level_partitioning(spark, tmp_path):
    """Review fix (pre-existing): delete-to-empty cleanup in
    apply_rebuild must also drop ONE-level rels (the old prefix test
    required a trailing '/' that single-level rels don't have)."""
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=2,
    )
    lake.write_full(
        spark.createDataFrame(
            [(1, 1.0, 202405), (2, 2.0, 202406)], "id int, amt double, ym int"
        )
    )
    # June's re-extract produces NOTHING -> its entry must drop
    lake.apply_rebuild(
        spark.createDataFrame([], "id int, amt double, ym int"),
        changed_year_months=[202406],
    )
    assert sorted(lake.current_manifest()) == ["ym=202405"]
    assert lake.read().count() == 1


def test_publish_expectations_gate(spark, tmp_path):
    """Publish-time data-quality expectations (SQL CHECK semantics):
    a violating change set raises ExpectationError with per-gate
    counts BEFORE anything is claimed or written; NULL predicates
    pass (the standard's CHECK behavior); every publish path — full
    load, partition overwrite, merge — is gated."""
    import os

    from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
        ExpectationError,
    )

    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id int, amt double, ym int",
        retain=4,
        expectations={
            "amt_positive": "amt > 0",
            "id_present": "id IS NOT NULL",
        },
    )
    # initial load violating one gate: refused, nothing on disk
    with pytest.raises(ExpectationError, match="amt_positive \\(1 rows\\)"):
        lake.write_full(
            spark.createDataFrame(
                [(1, 1.0, 202405), (2, -2.0, 202405)],
                "id int, amt double, ym int",
            )
        )
    assert not os.path.exists(str(tmp_path / "lake" / "data"))
    assert lake.current_id() is None

    lake.write_full(
        spark.createDataFrame(
            [(1, 1.0, 202405), (2, None, 202405)],  # NULL passes (CHECK)
            "id int, amt double, ym int",
        )
    )
    assert lake.read().count() == 2
    mid = lake.current_id()

    # overwrite path gated; both failing gates reported with counts
    with pytest.raises(ExpectationError) as ei:
        lake.overwrite_partitions(
            spark.createDataFrame(
                [(None, -1.0, 202406), (None, 2.0, 202406)],
                "id int, amt double, ym int",
            )
        )
    assert ei.value.violations == {"amt_positive": 1, "id_present": 2}
    assert lake.current_id() == mid

    # merge path gated too (content carries the violating upsert)
    with pytest.raises(ExpectationError):
        lake.merge_rows(
            spark.createDataFrame([(1, -9.0, 202405)], "id int, amt double, ym int"),
            key_cols=["id"],
        )
    assert lake.current_id() == mid
    assert {r.amt for r in lake.read().collect()} == {1.0, None}


@pytest.mark.slow
def test_randomized_merge_lifecycle_matches_model(spark, tmp_path):
    """Model-based check over the NEW surface: a deterministic random
    sequence of merges (upsert/move/delete), partition overwrites, and
    rollbacks must track a plain {id: row} dict model exactly after
    EVERY step; snapshot_diff_rows over each merge's publish must equal
    the model's net change. Extends the r10 lifecycle model test to
    the r11 operations instead of hand-reasoning them."""
    import random

    rng = random.Random(7)
    YMS = [202401, 202402, 202403]
    lake = SnapshotLakeTable(
        spark,
        str(tmp_path / "lake"),
        partition_cols=("ym",),
        schema="id long, v0 double, ym int",
        retain=2,
    )
    model: dict = {}          # id -> (id, paid, ym)
    next_id = [0]
    states: dict = {}         # mid -> model snapshot

    def df_of(rows):
        return spark.createDataFrame(rows, "id long, v0 double, ym int")

    def fresh_rows(n):
        out = []
        for _ in range(n):
            next_id[0] += 1
            out.append(
                (next_id[0], float(next_id[0]), rng.choice(YMS))
            )
        return out

    def check():
        got = sorted((r.id, r.v0, r.ym) for r in lake.read().collect())
        assert got == sorted(model.values())

    seed = fresh_rows(6)
    lake.write_full(df_of(seed))
    model = {r[0]: r for r in seed}
    states[lake.current_id()] = dict(model)
    check()

    for step in range(18):
        op = rng.choice(["merge", "merge", "overwrite", "rollback"])
        if op == "merge":
            batch = []
            live = sorted(model)
            # updates (some moving partitions), deletes, inserts
            for i in rng.sample(live, min(len(live), rng.randint(0, 3))):
                old = model[i]
                if rng.random() < 0.5:
                    batch.append((i, old[1] + 100.0, old[2], False))
                else:
                    batch.append(
                        (i, old[1] + 100.0, rng.choice(YMS), False)
                    )
            for i in rng.sample(live, min(len(live), rng.randint(0, 2))):
                if not any(b[0] == i for b in batch):
                    batch.append((i, None, None, True))
            for row in fresh_rows(rng.randint(0, 2)):
                batch.append((*row, False))
            if not batch:
                continue
            pre = lake.current_id()
            before = set(model.values())
            res = lake.merge_rows(
                df_of(
                    [(b[0], b[1], b[2]) for b in batch]
                ).withColumn(
                    "__del",
                    F.col("id").isin(
                        [b[0] for b in batch if b[3]]
                    ),
                ),
                key_cols=["id"],
                delete_col="__del",
            )
            for b in batch:
                if b[3]:
                    model.pop(b[0], None)
                else:
                    model[b[0]] = (b[0], b[1], b[2])
            after = set(model.values())
            if res != {"written": [], "replaced": []}:
                diff = lake.snapshot_diff_rows(pre, lake.current_id())
                assert sorted(map(tuple, diff.collect())) == sorted(
                    [(*r, "insert") for r in after - before]
                    + [(*r, "delete") for r in before - after]
                )
            else:
                assert before == after
        elif op == "overwrite":
            ym = rng.choice(YMS)
            rows = [r for r in fresh_rows(2)]
            rows = [(i, p, ym) for i, p, _ in rows]
            lake.overwrite_partitions(df_of(rows))
            model = {i: r for i, r in model.items() if r[2] != ym}
            for r in rows:
                model[r[0]] = r
        else:  # rollback
            ids = lake.snapshots()
            cur = lake.current_id()
            older = [i for i in ids if i < (cur or 0) and i in states]
            if not older:
                continue
            target = older[-1]
            lake.rollback(target)
            model = dict(states[target])
        mid = lake.current_id()
        if mid is not None:
            states[mid] = dict(model)
        check()
