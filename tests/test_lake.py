"""Partitioned lake management (S4-S6, M6)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable


def _df(spark, rows):
    return spark.createDataFrame(rows, ["id", "v", "year_month", "country"])


def test_dynamic_overwrite_touches_only_present_partitions(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(
        _df(spark, [(1, "a", 202401, "PT"), (2, "b", 202401, "ES"), (3, "c", 202402, "PT")])
    )
    # rebuild ONLY (202401, PT) with new content
    lake.overwrite_partitions(_df(spark, [(9, "z", 202401, "PT")]))
    got = {(r.id, r.year_month, r.country) for r in lake.read().collect()}
    assert got == {(9, 202401, "PT"), (2, 202401, "ES"), (3, 202402, "PT")}


def _tree(root):
    """{relative file path: bytes} for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for n in files:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _stages(root):
    return [n for n in os.listdir(root) if n.startswith("_stage-")]


def test_static_session_mode_replaces_only_df_partitions(spark, tmp_path):
    """The staged swap does not depend on partitionOverwriteMode: under
    a static session it still replaces only the partitions ``df``
    produces and leaves every other partition byte-identical.
    compact_partitions still writes in place, so it keeps its guard."""
    root = str(tmp_path / "lake")
    lake = LakeTable(spark, root)
    lake.write_full(
        _df(spark, [(1, "a", 202401, "PT"), (2, "b", 202401, "ES"), (3, "c", 202402, "PT")])
    )
    untouched = {
        rel: data
        for rel, data in _tree(root).items()
        if not rel.startswith(os.path.join("year_month=202401", "country=PT"))
    }
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        lake.overwrite_partitions(
            _df(spark, [(9, "z", 202401, "PT"), (4, "d", 202403, "PT")])
        )
        with pytest.raises(RuntimeError, match="dynamic"):
            lake.compact_partitions(target_file_bytes=1, min_files=1)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    after = _tree(root)
    assert {rel: after.get(rel) for rel in untouched} == untouched
    got = {(r.id, r.year_month, r.country) for r in lake.read().collect()}
    assert got == {(9, 202401, "PT"), (2, 202401, "ES"), (3, 202402, "PT"), (4, 202403, "PT")}
    assert _stages(root) == []


def test_apply_rebuild_replaces_changed_year_months_whole(spark, tmp_path):
    """A changed year_month is replaced as a whole directory: a leaf the
    new data no longer produces disappears, and a changed year_month
    with no rows at all is removed (delete-to-empty)."""
    root = str(tmp_path / "lake")
    lake = LakeTable(spark, root)
    lake.write_full(
        _df(
            spark,
            [(1, "a", 202401, "PT"), (2, "b", 202401, "ES"),
             (3, "c", 202402, "PT"), (5, "e", 202404, "PT")],
        )
    )
    lake.apply_rebuild(
        _df(spark, [(9, "z", 202401, "PT")]), changed_year_months=[202401, 202402]
    )
    got = {(r.id, r.year_month, r.country) for r in lake.read().collect()}
    assert got == {(9, 202401, "PT"), (5, 202404, "PT")}
    assert sorted(n for n in os.listdir(root) if not n.startswith((".", "_"))) == [
        "year_month=202401", "year_month=202404"
    ]
    assert os.listdir(os.path.join(root, "year_month=202401")) == ["country=PT"]
    lake.apply_rebuild(
        _df(spark, [(9, "z", 202401, "PT")]).limit(0),
        changed_year_months=[202401, 202404],
    )
    assert not lake.exists() and lake.read().count() == 0
    assert _stages(root) == []


def test_swap_failure_before_first_rename_leaves_table_untouched(
    spark, tmp_path, monkeypatch
):
    """An exception after the stage write and before the first rename
    must leave the live table byte-identical and remove the stage."""
    root = str(tmp_path / "lake")
    lake = LakeTable(spark, root)
    lake.write_full(_df(spark, [(1, "a", 202401, "PT"), (2, "b", 202402, "PT")]))
    before = _tree(root)

    class Injected(Exception):
        pass

    def boom(*_a, **_kw):
        raise Injected()

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(Injected):
        lake.overwrite_partitions(_df(spark, [(9, "z", 202401, "PT")]))
    monkeypatch.undo()
    assert _tree(root) == before
    assert _stages(root) == []


def test_leftover_stage_is_invisible_and_swept(spark, tmp_path):
    """A hard-killed writer leaves a ``_stage-*`` directory holding
    complete partition data. Readers must not see it, and the next
    overwrite_partitions removes it."""
    import shutil

    root = str(tmp_path / "lake")
    lake = LakeTable(spark, root)
    lake.write_full(_df(spark, [(1, "a", 202401, "PT")]))
    leftover = os.path.join(root, "_stage-deadbeef")
    shutil.copytree(
        os.path.join(root, "year_month=202401"),
        os.path.join(leftover, "year_month=202401"),
    )
    assert lake.read().count() == 1

    empty = LakeTable(spark, str(tmp_path / "empty"))
    shutil.copytree(leftover, os.path.join(empty.path, "_stage-deadbeef"))
    assert not empty.exists() and empty.read().count() == 0

    lake.overwrite_partitions(_df(spark, [(2, "b", 202402, "PT")]))
    assert _stages(root) == []
    assert {r.id for r in lake.read().collect()} == {1, 2}


def test_partitions_listing_and_drop(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(_df(spark, [(1, "a", 202401, "PT"), (2, "b", 202402, "PT")]))
    parts = {(r.year_month, r.country) for r in lake.partitions().collect()}
    assert parts == {(202401, "PT"), (202402, "PT")}
    lake.drop_partitions([202401])
    assert {r.year_month for r in lake.read().collect()} == {202402}


def test_one_file_per_partition(spark, tmp_path):
    """Small-files contract: each partition dir holds exactly one data file."""
    import glob

    lake = LakeTable(spark, str(tmp_path / "lake"))
    rows = [(i, "x", 202401 + (i % 2), "PT") for i in range(100)]
    lake.write_full(_df(spark, rows))
    for d in glob.glob(str(tmp_path / "lake" / "year_month=*/country=*")):
        files = [f for f in glob.glob(d + "/*.parquet")]
        assert len(files) == 1, d


def test_register_catalog_table(spark, tmp_path):
    """S4: CREATE TABLE ... USING PARQUET + MSCK partition discovery makes
    the lake queryable by name through the SQL catalog."""
    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(
        _df(spark, [(1, "a", 202401, "PT"), (2, "b", 202402, "ES")])
    )
    lake.register_catalog_table("sales_history_cat_test")
    try:
        got = {
            (r.id, r.year_month)
            for r in spark.sql(
                "SELECT id, year_month FROM sales_history_cat_test"
            ).collect()
        }
        assert got == {(1, 202401), (2, 202402)}
        # partition pruning reaches the catalog table
        plan = (
            spark.sql("SELECT id FROM sales_history_cat_test WHERE year_month = 202401")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "202401" in plan
        # idempotent re-register
        lake.register_catalog_table("sales_history_cat_test")
    finally:
        spark.sql("DROP TABLE IF EXISTS sales_history_cat_test")


def test_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    """Compaction: fragmented partition collapses to 1 file with identical
    content; a healthy partition's files are left physically untouched."""
    import glob
    import os

    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(_df(spark, [(1, "a", 202401, "PT"), (2, "b", 202402, "PT")]))
    # simulate streaming/CDC appends fragmenting (202401, PT): three
    # appended files alongside the original
    for i in range(3):
        (
            _df(spark, [(10 + i, "frag", 202401, "PT")])
            .coalesce(1)
            .write.mode("append")
            .partitionBy("year_month", "country")
            .parquet(str(tmp_path / "lake"))
        )
    frag_dir = str(tmp_path / "lake" / "year_month=202401" / "country=PT")
    healthy_dir = str(tmp_path / "lake" / "year_month=202402" / "country=PT")
    assert len(glob.glob(frag_dir + "/*.parquet")) == 4
    healthy_before = {
        (f, os.path.getmtime(f)) for f in glob.glob(healthy_dir + "/*.parquet")
    }
    before = {tuple(r) for r in lake.read().collect()}

    stats = {rel: (n, b) for rel, n, b in lake.partition_file_stats()}
    assert stats["year_month=202401/country=PT"][0] == 4

    rewritten = lake.compact_partitions(min_files=2)
    assert rewritten == ["year_month=202401/country=PT"]
    assert len(glob.glob(frag_dir + "/*.parquet")) == 1
    # data identical, healthy partition files untouched (same inodes/mtimes)
    assert {tuple(r) for r in lake.read().collect()} == before
    healthy_after = {
        (f, os.path.getmtime(f)) for f in glob.glob(healthy_dir + "/*.parquet")
    }
    assert healthy_after == healthy_before
    # second run: nothing left to do
    assert lake.compact_partitions(min_files=2) == []


def test_compaction_splits_oversized_partition(spark, tmp_path):
    """The split path: a partition whose bytes exceed the target file size
    comes back as ceil(bytes/target) files, not one."""
    import glob

    lake = LakeTable(spark, str(tmp_path / "lake"))
    rows = [(i, "x" * 50, 202401, "PT") for i in range(2000)]
    lake.write_full(_df(spark, rows))
    # fragment it so compaction triggers
    _df(spark, [(99999, "y", 202401, "PT")]).coalesce(1).write.mode(
        "append"
    ).partitionBy("year_month", "country").parquet(str(tmp_path / "lake"))
    before = {tuple(r) for r in lake.read().collect()}

    [(rel, nfiles, nbytes)] = lake.partition_file_stats()
    target = nbytes // 3  # force want ≈ 3-4 files
    assert lake.compact_partitions(target_file_bytes=target, min_files=2) == [rel]
    d = str(tmp_path / "lake" / "year_month=202401" / "country=PT")
    got_files = len(glob.glob(d + "/*.parquet"))
    want = -(-nbytes // target)
    # salted split: expect >1 file, bounded by the requested count
    assert 1 < got_files <= want
    assert {tuple(r) for r in lake.read().collect()} == before


def test_schema_evolution_merge_schema(spark, tmp_path):
    """A column added by a later CDC run must be readable across the whole
    table (NULL in pre-evolution partitions) without rewriting history."""
    import pyspark.sql.functions as F

    lake = LakeTable(spark, str(tmp_path / "lake"))
    lake.write_full(_df(spark, [(1, "a", 202401, "PT")]))
    evolved = _df(spark, [(2, "b", 202402, "PT")]).withColumn(
        "channel", F.lit("web")
    )
    lake.overwrite_partitions(evolved.select("id", "v", "channel", "year_month", "country"))
    got = {
        (r.id, r.channel)
        for r in lake.read(merge_schema=True).select("id", "channel").collect()
    }
    assert got == {(1, None), (2, "web")}
    # old partition physically untouched — evolution cost ∝ new data only
    assert lake.read(merge_schema=True).count() == 2


def _files_hit(path, col_ranges):
    """Count parquet files whose footer min/max intersect every predicate
    range — exactly the pruning decision a stats-based reader makes."""
    import glob

    import pyarrow.parquet as pq

    hit = total = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        total += 1
        lo: dict[str, int] = {}
        hi: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in col_ranges and col.statistics is not None:
                    s = col.statistics
                    lo[name] = min(lo.get(name, s.min), s.min)
                    hi[name] = max(hi.get(name, s.max), s.max)
        if all(hi[c] >= a and lo[c] <= b for c, (a, b) in col_ranges.items()):
            hit += 1
    return hit, total


@pytest.mark.slow
def test_zorder_layout_skips_files_on_every_dimension(spark, tmp_path):
    from bigdatapipelinepysparksqlserver_spark.sources.lake import write_zordered

    n, files = 40_000, 64
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)).alias("y"),
    )
    linear, zord = str(tmp_path / "linear"), str(tmp_path / "zord")
    (
        df.repartitionByRange(files, "x")
        .sortWithinPartitions("x")
        .write.parquet(linear)
    )
    write_zordered(df, zord, zcols=["x", "y"], num_files=files)

    # same rows either way
    assert spark.read.parquet(zord).count() == n

    # predicate on y only: the linear-x layout scatters y across every
    # file; the z-layout clusters it
    y_box = {"y": (100, 199)}
    lin_hit, lin_total = _files_hit(linear, y_box)
    z_hit, z_total = _files_hit(zord, y_box)
    assert lin_total == z_total == files
    assert lin_hit == files  # linear layout prunes nothing on y
    assert z_hit < files // 2

    # 2-D box: z-layout must prune at least as well as the 1-D sort
    box = {"x": (100, 199), "y": (100, 199)}
    lin_box, _ = _files_hit(linear, box)
    z_box, _ = _files_hit(zord, box)
    assert z_box <= lin_box
    assert z_box < files // 4


# ---------------------------------------------------------------------------
# bloom-filtered point-lookup store
# ---------------------------------------------------------------------------


def _bloom_store(spark, tmp_path, cluster_col):
    from bigdatapipelinepysparksqlserver_spark.sources.lake import (
        write_bloom_store,
    )

    base = 1 << 33  # INT64-range ids: what a 100 TB corpus actually uses
    n = 60_000
    df = spark.range(n).select(
        (F.col("id") + base).alias("doc_id"),
        # natural cluster order (ingest time): ids land stride-1000 apart
        # within each time bucket, so every row group's doc_id min/max
        # spans ~the whole id range — stats prune nothing, bloom must
        F.pmod(F.col("id"), F.lit(1000)).alias("ts_bucket"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    path = str(tmp_path / "bloom_store")
    write_bloom_store(
        df,
        path,
        key="doc_id",
        ndv=n,
        cluster_col=cluster_col,
        num_files=2,
        row_group_bytes=64 * 1024,
    )
    return path, base, n


def test_bloom_store_prunes_row_groups_stats_cannot(spark, tmp_path):
    from bigdatapipelinepysparksqlserver_spark.sources.lake import (
        bloom_prune_audit,
    )

    path, base, n = _bloom_store(spark, tmp_path, cluster_col="ts_bucket")

    # layout sanity: tiny row groups -> many groups, scattered ids
    present, total = bloom_prune_audit(spark, path, "doc_id", base + 12_345)
    assert total >= 20, "store must split into many row groups for the test"
    # min/max stats alone keep every group (ids scattered by design);
    # the bloom filter drops all but the group(s) holding the key plus
    # at most a few false positives (fpp=0.01)
    assert present <= max(2, total // 10)
    absent, _ = bloom_prune_audit(spark, path, "doc_id", base + 10_000_000)
    assert absent <= max(1, total // 20)  # false positives only


def test_bloom_store_point_lookup_exact(spark, tmp_path):
    from bigdatapipelinepysparksqlserver_spark.sources.lake import point_lookup

    path, base, n = _bloom_store(spark, tmp_path, cluster_col="ts_bucket")
    want = [base + 5, base + 17_000, base + 59_999]
    miss = [base + n + 7]  # absent key: bloom may only add reads, never drop rows
    got = point_lookup(spark, path, "doc_id", want + miss).collect()
    assert sorted(r.doc_id for r in got) == sorted(want)
    # the predicate reaches the parquet scan (row-group filtering input)
    plan = point_lookup(
        spark, path, "doc_id", want
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(doc_id" in plan


def test_bloom_store_key_clustered_keeps_stats_pruning(spark, tmp_path):
    """cluster_col=key: min/max stats already prune; the bloom layer must
    not break anything and absent probes still drop every group."""
    from bigdatapipelinepysparksqlserver_spark.sources.lake import (
        bloom_prune_audit,
        point_lookup,
    )

    path, base, n = _bloom_store(spark, tmp_path, cluster_col=None)
    present, total = bloom_prune_audit(spark, path, "doc_id", base + 30_000)
    assert present == 1  # sorted by key: stats nail it to exactly one group
    absent, _ = bloom_prune_audit(spark, path, "doc_id", base - 1)
    assert absent == 0
    got = point_lookup(spark, path, "doc_id", [base, base + n - 1]).collect()
    assert sorted(r.doc_id for r in got) == [base, base + n - 1]


# ---------------------------------------------------------------------------
# optimizer statistics (ANALYZE TABLE → CBO)
# ---------------------------------------------------------------------------


def test_analyze_table_records_stats(spark, tmp_path):
    from bigdatapipelinepysparksqlserver_spark.sources.lake import (
        analyze_table,
        table_stats,
    )

    name = "stats_tbl_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.range(10_000).selectExpr(
        "id", "id % 100 AS k", "md5(CAST(id AS STRING)) AS payload"
    ).write.saveAsTable(name)
    try:
        assert table_stats(spark, name)["rowCount"] is None
        analyze_table(spark, name, columns=["k"])
        st = table_stats(spark, name)
        assert st["rowCount"] == 10_000
        assert st["sizeInBytes"] and st["sizeInBytes"] > 0
        # column stats recorded (NDV visible via DESCRIBE ... FOR COLUMNS)
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name} k").collect()
        }
        assert int(desc["distinct_count"]) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cbo_stats_flip_filtered_join_to_broadcast(spark, tmp_path):
    """The plan change stats exist for: a selective filter on a
    file-size-big table estimates down to ~size/ndv under CBO, crossing
    the broadcast threshold — fact⋈filtered-fact becomes a broadcast
    join with NO hint in the query."""
    from bigdatapipelinepysparksqlserver_spark.sources.lake import analyze_table

    fact, dim = "cbo_fact_test", "cbo_dim_test"
    for name in (fact, dim):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.range(60_000).selectExpr(
        "id", "id % 300 AS k", "md5(CAST(id AS STRING)) AS p1"
    ).write.saveAsTable(fact)
    spark.range(60_000).selectExpr(
        "id AS rid", "id % 300 AS k", "md5(CAST(id AS STRING)) AS p2"
    ).write.saveAsTable(dim)

    def plan_for():
        q = (
            spark.table(fact)
            .join(spark.table(dim).where(F.col("k") == 7), "k")
        )
        return q._jdf.queryExecution().executedPlan().toString()

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        # threshold below either table's file size, CBO on
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        spark.conf.set("spark.sql.cbo.enabled", "true")

        # no stats: planner only sees multi-MB file sizes on both sides
        before = plan_for()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before

        analyze_table(spark, dim, columns=["k"])
        after = plan_for()
        # ndv(k)=300 → filtered dim estimates ~1/300 of its size → broadcast
        assert "BroadcastHashJoin" in after
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        for name in (fact, dim):
            spark.sql(f"DROP TABLE IF EXISTS {name}")

