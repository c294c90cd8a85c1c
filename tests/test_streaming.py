"""Structured Streaming CDC primitives: unified batch/stream semantics —
the streaming plan must produce the batch twin's results on the same data."""

from __future__ import annotations

import os
from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import Window

from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable
import pytest

from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
    foreach_batch_partition_overwrite,
    streaming_dedup,
    streaming_hourly_agg,
)

ROWS = [
    (1, datetime(2024, 1, 1, 10, 5), "purchase", 10.0),
    (2, datetime(2024, 1, 1, 10, 55), "purchase", 20.0),
    (3, datetime(2024, 1, 1, 11, 5), "view", 0.0),
    (3, datetime(2024, 1, 1, 11, 5), "view", 0.0),  # duplicate event_id
]
SCHEMA = "event_id long, ts timestamp, event_type string, amount double"


def _events(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_hourly_agg_batch_twin(spark):
    got = {
        (r.hour_start, r.event_type): (r.event_count, r.amount_sum)
        for r in streaming_hourly_agg(_events(spark)).collect()
    }
    assert got[(datetime(2024, 1, 1, 10), "purchase")] == (2, 30.0)
    assert got[(datetime(2024, 1, 1, 11), "view")] == (2, 0.0)


def test_streaming_hourly_agg_file_source(spark, tmp_path):
    """Real streaming run: file source → watermarked agg → memory sink,
    availableNow trigger (bounded), results == batch twin."""
    src_dir = str(tmp_path / "stream_src")
    _events(spark).write.parquet(src_dir)
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q = (
        streaming_hourly_agg(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # complete mode emits every window regardless of watermark progress —
    # (append mode would hold back the final window, whose end is still
    # ahead of max-event-time − watermark)
    got = {
        (r.hour_start, r.event_type): (r.event_count, r.amount_sum)
        for r in spark.sql("select * from hourly_test").collect()
    }
    assert got[(datetime(2024, 1, 1, 10), "purchase")] == (2, 30.0)
    assert got[(datetime(2024, 1, 1, 11), "view")] == (2, 0.0)


def test_streaming_dedup_batch_twin(spark):
    out = streaming_dedup(_events(spark))
    assert out.count() == 3  # duplicate event_id collapsed


def test_foreach_batch_partition_overwrite(spark, tmp_path):
    lake = LakeTable(spark, str(tmp_path / "lake"), partition_cols=("event_type",))
    sink = foreach_batch_partition_overwrite(lake)
    sink(_events(spark).dropDuplicates(["event_id"]), 0)
    assert lake.read().count() == 3
    # replay the same batch: idempotent (C4)
    sink(_events(spark).dropDuplicates(["event_id"]), 0)
    assert lake.read().count() == 3
    # empty batch: no-op, does not truncate
    sink(_events(spark).where("event_id < 0"), 1)
    assert lake.read().count() == 3
    assert os.path.isdir(str(tmp_path / "lake"))


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """The session_window plan run as a REAL stream (file source,
    availableNow) produces the batch twin's sessions exactly."""
    from bigdatapipelinepysparksqlserver_spark.operators.temporal import streaming_sessionize

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 100),
        (2, datetime(2024, 1, 1, 10, 10), 100),   # same session
        (3, datetime(2024, 1, 1, 11, 0), 100),    # 50min gap → new session
        (4, datetime(2024, 1, 1, 10, 5), 200),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    src_dir = str(tmp_path / "sess_src")
    df.write.parquet(src_dir)

    batch = {
        (r.user_id, r.session_start, r.session_end, r.events_in_session)
        for r in streaming_sessionize(df).collect()
    }
    assert (100, datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 40), 2) in batch
    assert len(batch) == 3

    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src_dir)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.events_in_session)
        for r in spark.sql("select * from sess_test").collect()
    }
    assert streamed == batch


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must SURVIVE micro-batch boundaries —
    two single-file batches, final per-key totals equal the batch groupBy."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import streaming_running_totals

    schema = "user_id long, ts timestamp, amount double"
    batch1 = [(1, datetime(2024, 1, 1, 10, 0), 10.0), (2, datetime(2024, 1, 1, 10, 1), 5.0)]
    batch2 = [(1, datetime(2024, 1, 1, 10, 2), 7.0), (1, datetime(2024, 1, 1, 10, 3), 3.0)]
    src = tmp_path / "totals_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
        .parquet(str(src / "*"))
    )
    q = (
        streaming_running_totals(stream, key_col="user_id", value_col="amount")
        .writeStream.format("memory")
        .queryName("totals_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "totals_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1  # really >1 batch

    emitted = spark.sql("SELECT * FROM totals_test").collect()
    # update mode re-emits a key on every batch that touches it; the running
    # totals are monotone, so the final state is the max emission per key
    final = {}
    for r in emitted:
        cur = final.get(r.user_id)
        if cur is None or r.event_count > cur[0]:
            final[r.user_id] = (r.event_count, r.value_sum)
    assert final == {1: (3, 20.0), 2: (1, 5.0)}
    # user 1's totals span both micro-batches → state crossed the boundary


def test_streaming_enrich_stream_static(spark, tmp_path):
    """Stream-static join: a real file-source stream enriched against a
    static dim must equal the batch join, and unmatched facts survive."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import streaming_enrich

    dim = spark.createDataFrame(
        [("purchase", "rev"), ("view", "traffic")], "event_type string, category string"
    )
    batch = {
        (r.event_id, r.category)
        for r in streaming_enrich(_events(spark), dim, on="event_type").collect()
    }
    assert batch == {(1, "rev"), (2, "rev"), (3, "traffic")}

    src_dir = str(tmp_path / "enrich_src")
    _events(spark).write.parquet(src_dir)
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q = (
        streaming_enrich(stream, dim, on="event_type")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.event_id, r.category)
        for r in spark.sql("select * from enrich_test").collect()
    }
    # the duplicate event_id 3 row appears twice in the raw stream
    assert streamed == batch


def test_foreach_batch_incremental_mart_end_to_end(spark, tmp_path):
    """Continuous CDC → lake → mart: a real availableNow stream of wide
    sales rows, processed in ≥2 micro-batches, must leave the incremental
    mart exactly equal to a full recompute over the final lake."""
    from decimal import Decimal

    from bigdatapipelinepysparksqlserver_spark.pipelines import mart_sales_agg_df
    from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import (
        IncrementalMart,
    )
    from bigdatapipelinepysparksqlserver_spark.schemas import SALES_HISTORY
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_incremental_mart,
    )

    t = datetime(2024, 1, 5, 9, 0)

    def wide(i, ym, country, paid, product):
        return (
            i, t, Decimal(paid), 100 + i, "M", 200 + i, product, "L", "red",
            None, ym, country,
        )

    batch1 = [wide(1, 202401, "PT", "10.00", "shirt"), wide(2, 202401, "ES", "5.50", "hat")]
    # sink contract: each micro-batch is a PARTITION-COMPLETE re-extract
    # (like plans.incremental) — batch 2 touches (202401, PT) again, so it
    # must carry that partition's full rebuilt content (rows 1 and 4)
    batch2 = [
        wide(3, 202402, "PT", "7.25", "shirt"),
        wide(1, 202401, "PT", "10.00", "shirt"),
        wide(4, 202401, "PT", "2.00", "hat"),
    ]
    src = tmp_path / "cdc_src"
    spark.createDataFrame(batch1, SALES_HISTORY).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2, SALES_HISTORY).coalesce(1).write.parquet(str(src / "f2"))

    lake = LakeTable(spark, str(tmp_path / "lake"))
    mart = IncrementalMart(spark, lake, str(tmp_path / "partials"))
    stream = (
        spark.readStream.schema(SALES_HISTORY)
        .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_incremental_mart(lake, mart))
        .option("checkpointLocation", str(tmp_path / "mart_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    assert lake.read().count() == 4
    refresh = datetime(2024, 2, 1)
    full = sorted(map(tuple, mart_sales_agg_df(lake.read(), refresh).collect()))
    inc = sorted(map(tuple, mart.sales_agg(refresh).collect()))
    assert full == inc and len(full) > 0


@pytest.mark.slow
def test_watermark_drops_late_data_append_mode(spark, tmp_path):
    """Late-data semantics, the part complete-mode tests can't see:
    in APPEND mode a window is emitted once its end falls behind the
    watermark, and events arriving after that are DROPPED — never
    re-emitted, never crashing the query. Two sequential availableNow
    runs over one checkpoint: run 1 closes hour 10; run 2 delivers a
    straggler into hour 10 plus a fresh event, and must emit nothing
    for the closed window."""
    schema = "event_id long, ts timestamp, event_type string, amount double"
    src_dir = tmp_path / "late_src"
    ckpt = str(tmp_path / "late_ckpt")
    sink_dir = str(tmp_path / "late_sink")
    out_schema = "hour_start timestamp, event_type string, event_count long, amount_sum double"

    def run(_name):
        # file sink, not memory: the memory sink cannot RESUME from a
        # checkpoint, and resuming is exactly what this test exercises.
        # Reads back the CUMULATIVE emitted rows.
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = (
            streaming_hourly_agg(stream)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.schema(out_schema).parquet(sink_dir).collect()
        out = {}
        for r in rows:
            key = (r.hour_start, r.event_type)
            assert key not in out, f"window {key} emitted more than once"
            out[key] = (r.event_count, r.amount_sum)
        return out

    # NOTE: batches append part-files into ONE flat directory — the file
    # source does not discover nested subdirectories.
    batch1 = [
        (1, datetime(2024, 1, 1, 10, 5), "purchase", 10.0),
        (2, datetime(2024, 1, 1, 10, 40), "purchase", 20.0),
        (3, datetime(2024, 1, 1, 12, 5), "view", 1.0),  # watermark → 11:55
    ]
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(str(src_dir))
    got1 = run("late_run1")
    # availableNow runs a flush batch after the data batch, so hour 10
    # (end 11:00 < watermark 11:55) finalizes within run 1; hour 12 is
    # still open and withheld (append semantics)
    assert got1 == {(datetime(2024, 1, 1, 10), "purchase"): (2, 30.0)}

    batch2 = [
        (4, datetime(2024, 1, 1, 10, 30), "purchase", 999.0),  # LATE straggler
        (5, datetime(2024, 1, 1, 13, 10), "view", 2.0),  # watermark → 13:00
    ]
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(str(src_dir))
    got2 = run("late_run2")
    # THE MONEY ASSERTION: the straggler (10:30 < checkpointed watermark
    # 11:55) is dropped before the aggregate — the finalized hour-10 row
    # still reads (2, 30.0), no 999, and run()'s uniqueness check proves
    # it was not re-emitted. The advancing watermark closes hour 12.
    assert got2 == {
        (datetime(2024, 1, 1, 10), "purchase"): (2, 30.0),
        (datetime(2024, 1, 1, 12), "view"): (1, 1.0),
    }

    batch3 = [(6, datetime(2024, 1, 1, 14, 10), "view", 3.0)]
    spark.createDataFrame(batch3, schema).write.mode("append").parquet(str(src_dir))
    got3 = run("late_run3")
    assert got3[(datetime(2024, 1, 1, 13), "view")] == (1, 2.0)
    assert got3[(datetime(2024, 1, 1, 10), "purchase")] == (2, 30.0)


def test_streaming_mart_composes_with_jdbc_transactional_publish(spark, tmp_path):
    """Derby-backed streaming↔ledger twin (r4 verdict item 8): the
    continuous CDC → lake → incremental-mart path composes with the
    TRANSACTIONAL database publish the reference actually used
    (JdbcMartPublisher = BEGIN TRAN; DELETE final; INSERT SELECT FROM
    staging; COMMIT — load_sales_mart.py:92-102). A 2-micro-batch
    availableNow stream publishes the mart to embedded Derby per batch;
    the final database table must equal a full batch recompute over the
    final lake, and reads go through the real JDBC scan path."""
    import tempfile
    from decimal import Decimal

    from bigdatapipelinepysparksqlserver_spark.pipelines import mart_sales_agg_df
    from bigdatapipelinepysparksqlserver_spark.plans.mart_incremental import (
        IncrementalMart,
    )
    from bigdatapipelinepysparksqlserver_spark.schemas import SALES_HISTORY
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import JdbcConfig
    from bigdatapipelinepysparksqlserver_spark.sources.jdbc import (
        JdbcMartPublisher,
    )
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_incremental_mart_publish,
    )

    t = datetime(2024, 1, 5, 9, 0)
    refresh = datetime(2024, 2, 1)

    def wide(i, ym, country, paid, product):
        return (
            i, t, Decimal(paid), 100 + i, "M", 200 + i, product, "L", "red",
            None, ym, country,
        )

    batch1 = [wide(1, 202401, "PT", "10.00", "shirt"), wide(2, 202401, "ES", "5.50", "hat")]
    batch2 = [  # partition-complete re-extract of (202401, PT) + new 202402
        wide(3, 202402, "PT", "7.25", "shirt"),
        wide(1, 202401, "PT", "10.00", "shirt"),
        wide(4, 202401, "PT", "2.00", "hat"),
    ]
    src = tmp_path / "jdbc_cdc_src"
    spark.createDataFrame(batch1, SALES_HISTORY).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2, SALES_HISTORY).coalesce(1).write.parquet(str(src / "f2"))

    lake = LakeTable(spark, str(tmp_path / "lake_jdbc"))
    mart = IncrementalMart(spark, lake, str(tmp_path / "partials_jdbc"))
    cfg = JdbcConfig(
        url=f"jdbc:derby:{tempfile.mkdtemp(prefix='derby_stream_')}/db;create=true",
        user="app", password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    publisher = JdbcMartPublisher(spark, cfg)

    stream = (
        spark.readStream.schema(SALES_HISTORY)
        .option("maxFilesPerTrigger", 1)  # force ≥2 micro-batches
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_incremental_mart_publish(
                lake, mart, publisher, now_fn=lambda: refresh,
                tables=("sales_history_2",),
            )
        )
        .option("checkpointLocation", str(tmp_path / "jdbc_mart_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1
    assert lake.read().count() == 4

    # the published DATABASE table equals a full recompute over the lake
    want = {
        (r.country, r.product, r.size, r.color): (r.sales_count, str(r.paid_amount))
        for r in mart_sales_agg_df(lake.read(), refresh).collect()
    }
    got_df = publisher.read(spark, "sales_history_2")
    got = {
        (r.country, r.product, r.size, r.color): (r.sales_count, str(r.paid_amount))
        for r in got_df.collect()
    }
    assert got == want and len(got) > 0
    # and the staging table holds the same snapshot (truncate-and-fill)
    assert publisher.read(spark, publisher.staging_name("sales_history_2")).count() == len(want)


def test_streaming_ivf_store_grows_and_keeps_pruning(spark, tmp_path, executed_plan):
    """Continuously-growing ANN store: embeddings streamed in ≥2
    micro-batches through foreach_batch_ivf_store_upsert land as
    batch=N/cell=C partitions. A probe over the grown store must (a)
    return exactly what the projection-assignment search returns over
    the SAME vectors, and (b) still prune: PartitionFilters carries the
    probed cells, excluding real cell directories in every batch."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivf_codebook_topk,
        ivf_partitioned_topk,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_ivf_store_upsert,
    )

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings.select(
        "vec_id", "embedding"
    )
    codebook_df = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cells = [(r.cell, list(r.centroid)) for r in codebook_df.collect()]

    # two micro-batches covering the whole table, via a real file stream
    src = tmp_path / "vec_src"
    emb.where(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(str(src / "f1"))
    emb.where(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(str(src / "f2"))
    store = str(tmp_path / "ivf_stream_store")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_ivf_store_upsert(store, cells)
        )
        .option("checkpointLocation", str(tmp_path / "ivf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    stored = spark.read.parquet(store)
    assert stored.count() == emb.count()          # nothing lost across batches
    assert stored.select("batch").distinct().count() >= 2

    queries = emb.where(F.col("vec_id") < 6)
    got = ivf_partitioned_topk(
        spark, store, queries, codebook_df, n_probe=4, k=8
    )
    want = ivf_codebook_topk(emb, queries, codebook_df, n_probe=4, k=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    plan = executed_plan(got)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:300]


def test_streaming_health_listener_captures_progress(spark, tmp_path):
    """Health observability: the listener turns per-batch progress into
    a queryable DataFrame — input rows, rates, batch duration — without
    touching the query plan."""
    from bigdatapipelinepysparksqlserver_spark.streaming.metrics import (
        attach_health_listener,
    )

    listener = attach_health_listener(spark)
    try:
        src_dir = str(tmp_path / "health_src")
        _events(spark).write.parquet(src_dir)
        stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
        q = (
            streaming_hourly_agg(stream)
            .writeStream.format("memory")
            .queryName("health_test")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "health_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener-bus delivery is async; progress lands within a beat
        import time

        health = []
        for _ in range(40):
            health = listener.snapshot(spark).collect()
            if any(r.num_input_rows > 0 for r in health):
                break
            time.sleep(0.5)
        rows = [r for r in health if r.query_name == "health_test"]
        assert rows, f"no progress captured: {health}"
        got = next(r for r in rows if r.num_input_rows > 0)
        assert got.num_input_rows == _events(spark).count()
        assert got.batch_duration_ms > 0
        assert got.processed_rows_per_second > 0
        assert got.batch_id >= 0 and got.query_id
        listener.clear()
        assert listener.snapshot(spark).count() == 0
    finally:
        spark.streams.removeListener(listener)


def test_online_semantic_dedup_across_microbatches(spark, tmp_path):
    """Continuously semantically-deduplicated embedding ingestion: a
    batch-2 near-dup of an ACCEPTED batch-1 vector is rejected via the
    pruned cell probe, within-batch dups drop the larger id, novel
    vectors in other cells pass, and the final store holds no in-cell
    near-dup pair."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_online_semantic_dedup,
    )

    def vec(axis, eps=0.0):
        v = [0.0] * 16
        v[axis] = 1.0
        v[(axis + 1) % 16] = eps
        return v

    codebook = [(0, vec(0)), (1, vec(5)), (2, vec(10))]
    schema = "vec_id long, embedding array<double>"
    src = tmp_path / "vec_src"
    # batch 1: axis-0 vector + its near-dup (within-batch) + axis-5 vector
    spark.createDataFrame(
        [(1, vec(0, 0.01)), (2, vec(0, 0.02)), (3, vec(5, 0.01))], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    # batch 2: cross-batch near-dup of accepted 1 + novel axis-10 vector
    spark.createDataFrame(
        [(10, vec(0, 0.03)), (11, vec(10, 0.0))], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    store = str(tmp_path / "sem_store")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_online_semantic_dedup(
                store, codebook, threshold=0.9
            )
        )
        .option("checkpointLocation", str(tmp_path / "sem_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    kept = spark.read.parquet(f"{store}/vecs")
    rows = kept.collect()
    kept_ids = {r.vec_id for r in rows}
    # 2 dropped (within-batch near-dup of 1), 10 dropped (cross-batch
    # near-dup of accepted 1), 3 and 11 novel in their cells
    assert kept_ids == {1, 3, 11}
    # cells recorded correctly (partition column survives the read)
    assert {r.vec_id: r.cell for r in rows} == {1: 0, 3: 1, 11: 2}
    # invariant: no in-cell near-dup pair among accepted vectors
    import math

    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(list(r.embedding))
    for members in by_cell.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                cos = sum(x * y for x, y in zip(a, b)) / (
                    math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b))
                )
                assert cos < 0.9


def test_online_semantic_dedup_replay_is_exactly_once(spark, tmp_path):
    """Replaying a micro-batch (same df, same batch_id) must leave the
    semantic store identical: the accept decision excludes batch=N's own
    rows, so the crash-replay recomputes against the same base state."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_online_semantic_dedup,
    )

    def vec(axis, eps=0.0):
        v = [0.0] * 16
        v[axis] = 1.0
        v[(axis + 1) % 16] = eps
        return v

    codebook = [(0, vec(0)), (1, vec(5))]
    schema = "vec_id long, embedding array<double>"
    store = str(tmp_path / "sem_replay")
    sink = foreach_batch_online_semantic_dedup(store, codebook, threshold=0.9)
    sink(spark.createDataFrame([(1, vec(0, 0.01)), (2, vec(5, 0.01))], schema), 0)
    sink(
        spark.createDataFrame([(10, vec(0, 0.02)), (11, vec(5, 0.6))], schema), 1
    )  # 10 near-dups accepted 1 → drop; 11 far enough from 2 → keep

    def snapshot():
        return sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(f"{store}/vecs").collect()
        )

    before = snapshot()
    assert [i for i, _ in before] == [1, 2, 11]
    sink(
        spark.createDataFrame([(10, vec(0, 0.02)), (11, vec(5, 0.6))], schema), 1
    )
    assert snapshot() == before


def test_token_budget_ingest_across_microbatches(spark, tmp_path):
    """Budget-bounded streaming ingestion: the budget fills across
    micro-batches (arrival-greedy, md5 order within each batch), the
    crossing doc is admitted once, later batches admit nothing for an
    exhausted source, and a replayed batch rewrites identical content."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_token_budget_ingest,
    )

    schema = "doc_id long, source string, text string"
    five = "a b c d e"          # 5 tokens each
    src = tmp_path / "docs_src"
    # s0 budget 12: batch 1 carries 10 tokens -> both admitted; batch 2
    # starts at 10 < 12 -> its md5-first doc crosses, the rest rejected
    spark.createDataFrame(
        [(1, "s0", five), (2, "s0", five), (3, "s1", five)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, "s0", five), (11, "s0", five), (12, "s1", five)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    store = str(tmp_path / "mix_store")
    budgets = {"s0": 12, "s1": 0}
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_token_budget_ingest(store, budgets)
        )
        .option("checkpointLocation", str(tmp_path / "mix_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    rows = spark.read.parquet(f"{store}/docs").collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert "s1" not in by_src                      # zero budget
    got_s0 = sorted(r.doc_id for r in by_src["s0"])
    # batch 1 fully admitted (pre-sums 0,5 < 12); batch 2 admits exactly
    # one more (pre-sum 10 < 12 for its first-ordered doc, 15 for the next)
    assert len(got_s0) == 3 and {1, 2} < set(got_s0)
    assert sum(r.tokens for r in by_src["s0"]) == 15  # crossing doc included
    assert all(r.text == five for r in rows)

    # exactly-once: replaying the LAST batch rewrites identical content
    import pyspark.sql.functions as F

    last_batch = max(
        int(r[0]) for r in spark.read.parquet(f"{store}/docs")
        .select(F.col("batch")).distinct().collect()
    )
    replay_df = spark.read.parquet(str(src / "f2")) if last_batch else (
        spark.read.parquet(str(src / "f1"))
    )
    before = sorted(map(tuple, spark.read.parquet(f"{store}/docs").collect()))
    foreach_batch_token_budget_ingest(store, budgets)(replay_df, last_batch)
    after = sorted(map(tuple, spark.read.parquet(f"{store}/docs").collect()))
    assert after == before


def test_streaming_hopping_agg_equals_batch_twin(spark, tmp_path):
    """Real hopping-window stream (availableNow) equals the batch twin:
    every event contributes to exactly 4 overlapping 1h/15min windows."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        streaming_hopping_agg,
    )

    src_dir = str(tmp_path / "hop_src")
    _events(spark).write.parquet(src_dir)
    stream = spark.readStream.schema(SCHEMA).parquet(src_dir)
    q = (
        streaming_hopping_agg(stream)
        .writeStream.format("memory")
        .queryName("hopping_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "hop_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("select * from hopping_test").collect())
    )
    want = sorted(
        map(tuple, streaming_hopping_agg(_events(spark)).collect())
    )
    assert got == want
    # every event in exactly 4 windows: window-count sum = 4 × events
    assert sum(r[2] for r in got) == 4 * len(ROWS)


def test_streaming_transition_counts_equal_batch_lead(spark, tmp_path):
    """The stateful streaming transition counter must equal the batch
    LEAD-window counts, INCLUDING transitions that span a micro-batch
    boundary (the carried last-event state)."""
    from collections import defaultdict

    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        streaming_transition_counts,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string"
    )
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "view"),
        (2, datetime(2024, 1, 1, 10, 1), 1, "click"),
        (3, datetime(2024, 1, 1, 10, 0), 2, "view"),
    ]
    b2 = [
        (4, datetime(2024, 1, 1, 10, 5), 1, "buy"),     # boundary: click->buy
        (5, datetime(2024, 1, 1, 10, 6), 2, "view"),    # boundary: view->view
        (6, datetime(2024, 1, 1, 10, 7), 2, "buy"),
        (7, datetime(2024, 1, 1, 10, 8), 1, "view"),
    ]
    src = tmp_path / "trans_src"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        streaming_transition_counts(stream)
        .writeStream.format("memory")
        .queryName("trans_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "trans_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    got = defaultdict(int)
    for r in spark.sql("SELECT * FROM trans_test").collect():
        got[(r.from_type, r.to_type)] += r.delta

    # batch twin: LEAD over the union, per user ordered by (ts, event_id)
    allrows = spark.createDataFrame(b1 + b2, schema)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expect = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in allrows.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert dict(got) == expect
    assert expect[("click", "buy")] == 1  # the boundary-spanning pair


def test_streaming_transition_counts_string_keys(spark, tmp_path):
    """The parameterized key/id columns must work for NON-bigint types
    (string user ids, int event ids): output/state schemas are derived
    from events.schema, not hard-coded long (r8 fix)."""
    from collections import defaultdict

    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        streaming_transition_counts,
    )

    schema = "event_id string, ts timestamp, user_id string, event_type string"
    b1 = [
        ("e1", datetime(2024, 1, 1, 10, 0), "alice", "view"),
        ("e2", datetime(2024, 1, 1, 10, 1), "alice", "click"),
    ]
    b2 = [
        ("e3", datetime(2024, 1, 1, 10, 5), "alice", "buy"),
        ("e4", datetime(2024, 1, 1, 10, 6), "bob", "view"),
        ("e5", datetime(2024, 1, 1, 10, 7), "bob", "buy"),
    ]
    src = tmp_path / "trans_str_src"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = streaming_transition_counts(stream)
    assert dict(out.dtypes)["user_id"] == "string"
    q = (
        out.writeStream.format("memory")
        .queryName("trans_str_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "trans_str_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = defaultdict(int)
    for r in spark.sql("SELECT * FROM trans_str_test").collect():
        got[(r.user_id, r.from_type, r.to_type)] += r.delta
    assert dict(got) == {
        ("alice", "view", "click"): 1,
        ("alice", "click", "buy"): 1,  # spans the micro-batch boundary
        ("bob", "view", "buy"): 1,
    }


def test_foreach_batch_drift_monitor(spark, tmp_path):
    """Online PSI ledger: per-micro-batch PSI equals the pure-python
    reference over the same bin counts, the ledger holds one row per
    batch, and replaying a batch rewrites IDENTICAL content
    (exactly-once)."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        psi_from_counts,
    )
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_drift_monitor,
    )

    # reference histogram: values uniform-ish over bins 0..3
    ref = {0: 100, 1: 100, 2: 100, 3: 100}
    rows_a = [(i, float(i % 4) * 25.0 + 1.0) for i in range(40)]  # matches ref
    rows_b = [(i, 95.0) for i in range(40)]  # all mass in bin 3: drift
    src = str(tmp_path / "src")
    schema = "event_id long, value double"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    ledger = str(tmp_path / "ledger")
    sink = foreach_batch_drift_monitor(ledger, ref)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(ledger).collect()
    assert sorted(r["batch_id"] for r in out) == [0, 1]
    by_batch = {r["batch_id"]: r for r in out}
    assert all(r["n_rows"] == 40 for r in out)

    def bins(rows):
        from collections import Counter

        return dict(
            Counter(int(round(v * 1_000_000)) // 25_000_000 for _, v in rows)
        )

    want = {psi_from_counts(ref, bins(rows_a)), psi_from_counts(ref, bins(rows_b))}
    assert {r["psi"] for r in out} == want
    # the drifted batch scores much higher than the matching one
    assert max(want) > 10 * max(min(want), 1e-9)

    # exactly-once: replay one batch by hand — identical ledger row
    before = spark.read.parquet(ledger + "/batch=0").collect()
    # identify which rows batch 0 held by matching its psi
    batch0_rows = (
        rows_a
        if by_batch[0]["psi"] == psi_from_counts(ref, bins(rows_a))
        else rows_b
    )
    sink(spark.createDataFrame(batch0_rows, schema), 0)
    after = spark.read.parquet(ledger + "/batch=0").collect()
    assert before == after


def test_streaming_rolling_actives_matches_batch_twin(spark, tmp_path):
    """The contribution-explode + watermarked-dedup + count plan, run as
    a REAL stream (file source, availableNow, APPEND mode — chained
    stateful dedup→agg), matches the batch rolling-distinct reference
    for every window the watermark finalized. A far-future sentinel
    event advances the watermark past the asserted range (append mode
    emits a win_day only once the watermark passes it)."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        streaming_rolling_actives,
    )

    schema = "event_id long, ts timestamp, user_id long"
    rows = [
        # users 1,2 on day 1; user 1 again day 3 (dedup inside window);
        # user 3 on day 9 after a silent gap
        (1, datetime(2024, 1, 1, 8), 1),
        (2, datetime(2024, 1, 1, 9), 2),
        (3, datetime(2024, 1, 3, 10), 1),
        (4, datetime(2024, 1, 9, 0), 3),
        # sentinel: pushes watermark (max event time − 1 day) past every
        # asserted window
        (99, datetime(2024, 3, 1, 0), 999),
    ]
    src_dir = str(tmp_path / "ra_src")
    spark.createDataFrame(rows, schema).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        streaming_rolling_actives(stream)
        .writeStream.format("memory")
        .queryName("rolling_actives_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ra_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.win_day: r.active_users_7d
        for r in spark.sql("select * from rolling_actives_test").collect()
    }

    # python reference: distinct users over [d-6, d] for every day with
    # a nonzero count (streaming emits no zero rows — the batch twin's
    # spine handles those). availableNow's closing no-data batches
    # finalize every window strictly below the final watermark — all
    # the asserted (non-sentinel) windows; only the watermark-boundary
    # window at the sentinel's far edge may be held back, so sentinel
    # windows are checked value-wise for whatever subset emitted.
    from collections import defaultdict
    from datetime import timedelta

    active = defaultdict(set)
    for _, ts, uid in rows:
        d = datetime(ts.year, ts.month, ts.day)
        for k in range(7):
            active[d + timedelta(days=k)].add(uid)
    expect = {d: len(us) for d, us in active.items()}
    asserted = {d for d, us in active.items() if us != {999}}
    assert asserted <= set(got), "a finalized non-sentinel window is missing"
    for d, n in got.items():
        assert n == expect[d], (d, n, expect[d])


def test_streaming_edge_store_append_recomposes_and_replays(spark, tmp_path):
    """The graph-as-asset streaming path: order-complete lineitem
    micro-batches through foreach_batch_edge_store_append land as
    batch=N/bucket=B partitions; the probed distinct edge relation must
    equal the batch rebuild over the full table, and replaying a batch
    (same rows, same batch_id) must leave the store equivalent —
    exactly-once."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        copurchase_edges,
        edge_store_append_batch,
        read_edge_store_batched,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_edge_store_append,
    )

    li = Catalog(spark, "/root/testdata/sf0.001").lineitem.select(
        "l_orderkey", "l_partkey"
    )
    # order-complete split: each order's rows land wholly in one file
    src = tmp_path / "li_src"
    li.where(F.col("l_orderkey") % 2 == 0).coalesce(1).write.parquet(
        str(src / "f1")
    )
    li.where(F.col("l_orderkey") % 2 == 1).coalesce(1).write.parquet(
        str(src / "f2")
    )
    store = str(tmp_path / "edge_stream_store")
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_edge_store_append(store, buckets=8)
        )
        .option("checkpointLocation", str(tmp_path / "edge_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    want = {(r["src"], r["dst"]) for r in copurchase_edges(li).collect()}
    got = {
        (r["src"], r["dst"])
        for r in read_edge_store_batched(spark, store).collect()
    }
    assert got == want and len(want) > 0

    # crash-replay: re-append batch 0's rows under the same batch_id
    edge_store_append_batch(
        li.where(F.col("l_orderkey") % 2 == 0), store, 0, buckets=8
    )
    again = {
        (r["src"], r["dst"])
        for r in read_edge_store_batched(spark, store).collect()
    }
    assert again == want


@pytest.mark.slow
def test_streaming_rolling_actives_multibatch_keeps_ontime_contributions(
    spark, tmp_path
):
    """Regression (r8 review): the watermark rides win_day, which runs
    window_days-1 AHEAD of event time — with an unwidened delay, batch
    2's ON-TIME events had their early window contributions dropped as
    late (undercounting every still-open window). Three ordered
    micro-batches; batch 2's day-3/day-4 events are <= 1 day late
    relative to batch 1's max (day 3), so every contribution must
    survive."""
    import os
    import time as _time
    from collections import defaultdict
    from datetime import timedelta

    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        streaming_rolling_actives,
    )

    schema = "event_id long, ts timestamp, user_id long"
    batches = [
        [(1, datetime(2024, 1, 1, 8), 1), (2, datetime(2024, 1, 3, 9), 2)],
        [(3, datetime(2024, 1, 3, 10), 4), (4, datetime(2024, 1, 4, 7), 5)],
        [(99, datetime(2024, 3, 1, 0), 999)],  # watermark sentinel
    ]
    src = tmp_path / "ra_mb_src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
        # file source orders batches by (modTime, path): force the order
        t = _time.time() + i * 10
        for root, _dirs, files in os.walk(str(src / f"f{i}")):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        streaming_rolling_actives(stream)
        .writeStream.format("memory")
        .queryName("ra_multibatch_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ra_mb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 2
    got = {
        r.win_day: r.active_users_7d
        for r in spark.sql("select * from ra_multibatch_test").collect()
    }

    active = defaultdict(set)
    for rows in batches:
        for _, ts, uid in rows:
            d = datetime(ts.year, ts.month, ts.day)
            for k in range(7):
                active[d + timedelta(days=k)].add(uid)
    expect = {d: len(us) for d, us in active.items()}
    asserted = {d for d, us in active.items() if us != {999}}
    assert asserted <= set(got), "an on-time contribution was dropped as late"
    for d, n in got.items():
        assert n == expect[d], (d, n, expect[d])


@pytest.mark.slow
def test_online_copy_gate_across_microbatches(spark, tmp_path):
    """Continuously copy-gated ingestion over the growing winnowing
    index: batch 2's doc copying a >= w+k-1-token run from an ACCEPTED
    batch-1 doc is rejected via the STORED fingerprints (the corpus is
    never re-fingerprinted); within-batch copies drop the larger id;
    the final store holds no fingerprint-sharing pair."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_fingerprints,
    )
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_online_copy_gate,
    )

    run = "the quick brown fox jumps over the lazy dog tonight"
    a = f"document alpha says {run} and then wanders off elsewhere"
    a_copy = f"plagiarist beta states {run} before changing the subject"
    b = "completely different material about rivers mountains and quiet valleys"
    c = "a third unrelated document concerning abstract algebra and topology today"
    schema = "doc_id long, text string"
    src = tmp_path / "gate_src"
    spark.createDataFrame(
        [(1, a), (2, a_copy), (3, b)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, f"late gamma quotes {run} yet again differently"), (11, c)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    store = str(tmp_path / "gate_store")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_online_copy_gate(store)
        )
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1

    kept = spark.read.parquet(f"{store}/docs")
    kept_ids = {r.doc_id for r in kept.collect()}
    assert kept_ids == {1, 3, 11}
    # invariant: no two accepted docs share a fingerprint hash
    fps = winnow_fingerprints(kept.select("doc_id", "text"))
    dup_hashes = (
        fps.groupBy("fp_hash")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup_hashes == 0
    # stored fingerprints cover exactly the accepted docs
    stored_ids = {
        r.doc_id for r in spark.read.parquet(f"{store}/fps").collect()
    }
    assert stored_ids == kept_ids

    # exactly-once: replaying batch 0 from a fresh checkpoint over the
    # SAME store converges to identical content (batch-scoped overwrite)
    before = sorted(map(tuple, kept.collect()))
    q2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(foreach_batch_online_copy_gate(store))
        .option("checkpointLocation", str(tmp_path / "gate_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    after = sorted(map(tuple, spark.read.parquet(f"{store}/docs").collect()))
    assert after == before


def test_online_copy_gate_df_cap_stops_boilerplate_blowup(spark, tmp_path):
    """ADVICE r9: the streaming gate applies the build-time stop-gram
    guard on read of the accumulated index — a boilerplate run present
    in > df_cap accepted docs stops matching (no D-matches-per-probe
    blowup, no pairwise drop cascade among boilerplate carriers), while
    a rare-run copy is still rejected through the same join."""
    from bigdatapipelinepysparksqlserver_spark.streaming.cdc import (
        foreach_batch_online_copy_gate,
    )

    boiler = (
        "this message is confidential and intended solely for the named"
        " recipient do not distribute"
    )
    rare = "the migratory patterns of arctic terns span both polar circles"
    uniq = [
        "alpha reports quarterly earnings beat expectations handily",
        "beta discusses upcoming maintenance windows next week",
        "gamma summarizes the offsite agenda and travel notes",
        "delta shares the revised onboarding checklist draft",
        "epsilon proposes a new rotation for incident duty",
    ]
    schema = "doc_id long, text string"
    src = tmp_path / "cap_src"
    batch1 = [(i + 1, f"{uniq[i]} {boiler}") for i in range(5)]
    batch1.append((6, f"zeta archives {rare} for the science digest"))
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(
        [
            # only boilerplate in common with the corpus -> ACCEPTED
            (10, f"eta announces the holiday schedule {boiler}"),
            # copies doc 6's rare run -> REJECTED
            (11, f"theta plagiarizes {rare} without attribution"),
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    store = str(tmp_path / "cap_store")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .writeStream.foreachBatch(
            foreach_batch_online_copy_gate(store, df_cap=3)
        )
        .option("checkpointLocation", str(tmp_path / "cap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    kept_ids = {r.doc_id for r in spark.read.parquet(f"{store}/docs").collect()}
    # all five boilerplate carriers survive batch 1 (the shared run's
    # fingerprints have df=5 > 3 and never enter the pair join), the
    # rare doc survives, doc 10 passes the capped cross-probe, doc 11
    # is caught by the rare (uncapped) fingerprints
    assert kept_ids == {1, 2, 3, 4, 5, 6, 10}
