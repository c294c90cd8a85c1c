"""Bucketed-table co-located join: the pre-shuffled fact⋈fact path.

Writes two tables bucketed on the same key/count and asserts the join
plan contains NO Exchange — the physical proof that bucketing removes
the shuffle (the expensive half of every big join at 100 TB).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from bigdatapipelinepysparksqlserver_spark.sources.lake import write_bucketed_table
import pytest


@pytest.mark.slow
def test_bucketed_join_has_no_exchange(spark, tmp_path, executed_plan):
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    lines = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("l_key"), (F.col("id") % 13).alias("l_val")
    )
    write_bucketed_table(
        spark, orders, "t_orders_b", "o_key", 8, sort_col="o_key",
        path=str(tmp_path / "orders_b"),
    )
    write_bucketed_table(
        spark, lines, "t_lines_b", "l_key", 8, sort_col="l_key",
        path=str(tmp_path / "lines_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_orders_b").join(
            spark.table("t_lines_b"), F.col("o_key") == F.col("l_key")
        )
        assert joined.count() == 5000
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: bucket layout IS the shuffle
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lines_b")


def test_bucketed_groupby_has_no_exchange(spark, tmp_path, executed_plan):
    ev = spark.range(0, 2000).select(
        (F.col("id") % 50).alias("user_id"), (F.col("id") % 9).alias("v")
    )
    write_bucketed_table(
        spark, ev, "t_events_b", "user_id", 8, path=str(tmp_path / "events_b")
    )
    try:
        agg = spark.table("t_events_b").groupBy("user_id").agg(F.sum("v").alias("s"))
        assert agg.count() == 50
        plan = executed_plan(agg)
        assert "Exchange" not in plan  # aggregation reuses the bucket partitioning
    finally:
        spark.sql("DROP TABLE IF EXISTS t_events_b")


def test_winnow_store_probe_exchange_free(spark, tmp_path, executed_plan):
    """The winnowing fingerprint index as a bucketed table: the
    incremental copy-probe must (a) find the planted copy and miss the
    unrelated doc, (b) equal the inline (non-stored) probe, and (c)
    join with NO Exchange on the stored side — the O(batch)-network
    ingest contract, same as the MinHash band store."""
    import re

    from bigdatapipelinepysparksqlserver_spark.caching import release_caches
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_copies_incremental,
        winnow_fingerprints,
        winnow_store_bucketed,
    )

    base = spark.createDataFrame(
        [
            (i, f"doc number {i} the quick brown fox jumps over the lazy dog "
                f"while unique tail {i} trails behind")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # copies a long run from every base doc (the shared middle)
            (100, "copied middle the quick brown fox jumps over the lazy dog end"),
            (101, "glaciers carve moraine debris through alpine valleys slowly"),
        ],
        "doc_id long, text string",
    )
    store = winnow_store_bucketed(
        spark, base, "t_winnow_store", num_buckets=8,
        path=str(tmp_path / "winnow_store"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = winnow_copies_incremental(store, batch)
        rows = got.collect()
        assert {r.batch_doc for r in rows} == {100}  # 101 matches nothing
        # inline twin (no store) must agree — note the shared middle is
        # hyper-common across base docs, so only hashes under the df
        # cap survive; with 30 base docs and cap 50 nothing is dropped
        inline_fps = winnow_fingerprints(base).select("doc_id", "fp_hash").distinct()
        want = winnow_copies_incremental(inline_fps, batch).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, want))

        release_caches()
        spark.catalog.clearCache()
        bfps = winnow_fingerprints(batch).select(
            F.col("doc_id").alias("__pid"), "fp_hash"
        )
        j = bfps.join(
            store.select("fp_hash", F.col("doc_id").alias("__cid")), "fp_hash"
        )
        j.collect()
        plan = executed_plan(j).rsplit("== Initial Plan ==", 1)[0]
        store_scan = [
            ln for ln in plan.splitlines()
            if "FileScan" in ln and "t_winnow_store" in ln
        ]
        assert store_scan and "SelectedBucketsCount" in store_scan[0], plan
        n_ex = len(re.findall(r"Exchange hashpartitioning\(fp_hash#", plan))
        assert n_ex == 1, f"expected only the probe-side shuffle:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_winnow_store")


def test_decontaminate_spans_stored_equals_inline(spark, tmp_path, executed_plan):
    """The repeated-use decontamination form (eval fps probed against
    the winnow_store_bucketed corpus index) must equal the inline
    decontaminate_spans under the same df-cap, with NO Exchange at all
    in the probe (stored side bucketed, eval side broadcast)."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        decontaminate_spans,
        decontaminate_spans_stored,
        winnow_store_bucketed,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the mitochondria is the powerhouse of the cell as taught"),
            (2, "unrelated prose about tides and lunar gravitational pull"),
            (3, "exam prep says the mitochondria is the powerhouse of the"
                " cell remember this"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(7, "question: the mitochondria is the powerhouse of the cell"
             " true or false")],
        "eval_id long, text string",
    )
    winnow_store_bucketed(
        spark, corpus, "t_decont_store", num_buckets=4,
        path=str(tmp_path / "decont_store"),
    )
    try:
        stored = decontaminate_spans_stored(
            spark, "t_decont_store", eval_docs
        )
        inline = decontaminate_spans(corpus, eval_docs)
        got = sorted(map(tuple, stored.collect()))
        want = sorted(map(tuple, inline.collect()))
        assert got == want and {r[0] for r in got} == {1, 3}, (got, want)
        # probe plan: no Exchange anywhere (broadcast join over the
        # bucketed scan; the groupBy keys include the bucket column)
        plan = executed_plan(stored)
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_decont_store")
