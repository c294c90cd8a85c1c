"""Streaming CDC primitives (SURVEY §2.9 re-expressed on Structured
Streaming).

The reference implements streaming *concepts* in batch (cutoff
watermark C1, changed-partition rebuild C2, tombstone deletes C3). A
Spark-native deployment can run the same semantics continuously:

- the 5-minute cutoff lag ≙ ``withWatermark`` (late-data tolerance)
- the per-run half-open window ≙ micro-batch boundaries (each batch is
  exactly-once within the query's checkpoint)
- the partition rebuild ≙ a ``foreachBatch`` sink doing a partition
  overwrite (``LakeTable.overwrite_partitions``) per micro-batch

Everything here takes/returns DataFrames so the same transformations
compose on a batch frame in tests (Structured Streaming's unified
semantics: a streaming query is the incrementalized batch plan).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..caching import release_caches
from ..sources.lake import LakeTable


def streaming_hourly_agg(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-hour aggregation over the events stream.

    Batch twin: ``queries.relational_queries.events_hourly_agg``. The
    watermark bounds state: hours older than (max event time − watermark)
    are finalized and evicted — the streaming version of the reference's
    cutoff lag (load_sales_history.py:33-36).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.window(F.col(ts_col), "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("amount").alias("amount_sum"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "event_count",
            "amount_sum",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once event dedup within the watermark horizon.

    ``dropDuplicates`` on a watermarked stream keeps key state only for
    the late-data window — bounded memory at any scale (vs unbounded
    exact dedup, which is the batch job's role).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
        return src.dropDuplicatesWithinWatermark(list(key_cols))
    return src.dropDuplicates(list(key_cols))


def streaming_sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization via native ``session_window`` — the
    streaming-capable twin of the batch lag/running-sum sessionize
    (queries.relational_queries.sessionize).

    Semantics note: ``session_window`` closes a session when the next
    event is ≥ gap after the previous (window is [start, last+gap)), so
    ``session_end`` here is last_event + gap, and an event EXACTLY at
    the gap boundary starts a new session (the batch query's ``>``
    keeps it; a difference only for timestamp collisions at exact gap
    multiples).

    Scale: one shuffle on (user, session-window merge); state per OPEN
    session only, bounded by the watermark horizon — this is the form
    that runs on an unbounded stream, where the lag/running-sum window
    (whole-history sort per user) cannot.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(user_col),
        )
        .agg(F.count(F.lit(1)).alias("events_in_session"))
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "events_in_session",
        )
    )


def streaming_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    dim_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stream-static dimension enrichment: left-join the (possibly
    streaming) fact against a STATIC dimension — the continuous twin of
    the batch denormalize (J1, ``operators.relational.denormalize``).

    Scale: the static side is broadcast-hinted, so each micro-batch is a
    map-only BroadcastHashJoin — no shuffle of the stream, no streaming
    state at all (stream-static joins are stateless by construction; the
    static side is simply re-resolved per micro-batch, which also means
    a dim TABLE refreshed in place is picked up between batches).
    Left-outer keeps unmatched facts (dim gaps must not drop revenue —
    same null-tolerant contract as the batch denormalize).
    """
    cols = dim.select(on, *dim_cols) if dim_cols else dim
    return events.join(F.broadcast(cols), on, "left")


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream equi+interval join: each LEFT event matches RIGHT
    events with the same key whose timestamp falls in
    ``[left_ts, left_ts + max_delay]`` — the streaming twin of the batch
    banded range join (``operators.temporal.range_join``), e.g. "views
    followed by a purchase within the hour".

    Both sides carry watermarks and the join predicate bounds event-time
    distance, which is exactly what Structured Streaming needs to EVICT
    buffered rows: a right row is droppable once the left watermark
    passes right_ts, a left row once the right watermark passes
    left_ts + max_delay. Without the time bound the state store grows
    without limit — the interval predicate is load-bearing, not an
    optimization. One shuffle per side (hash on the key), state
    partitioned the same way, so it scales horizontally.

    On batch frames the identical plan is a plain range join (unified
    semantics), which is how the tests cross-check results.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    lhs = lw.alias("l")
    rhs = rw.alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return lhs.join(
        rhs,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_delay}")),
    ).select(
        F.col(f"l.{key}").alias(key),
        lts.alias("left_ts"),
        rts.alias("right_ts"),
        (rts.cast("double") - lts.cast("double")).alias("delay_seconds"),
    )


def foreach_batch_partition_overwrite(
    lake: LakeTable, transform: Callable[[DataFrame], DataFrame] | None = None
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: each micro-batch overwrites the lake
    partitions it touches — the continuous version of
    ``plans.incremental`` (C2/M6). Idempotent per batch (C4): replays
    rewrite the same partitions to the same content.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        if out.isEmpty():
            return
        lake.overwrite_partitions(out)

    return _sink


def foreach_batch_keyed_merge(
    lake,
    key_cols,
    delete_col: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    max_retries: int = 3,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: each micro-batch row-level MERGEs into a
    :class:`~..sources.lake_snapshot.SnapshotLakeTable` by key
    (``merge_rows`` — upsert, cross-partition move, ``delete_col``
    deletes), one CAS-committed publish per batch.

    Exactly-once EFFECTS without a batch ledger: replay safety falls
    out of merge's net-change discipline, not checkpoint bookkeeping.
    A crashed-and-replayed micro-batch re-merges rows that are already
    live, the batch-sized ``exceptAll`` cancels them to an EMPTY
    change set, and merge publishes nothing — the lake (snapshot id
    included) is untouched. This holds for deletes too (the key is
    already gone → no matched row → no net change). The only
    requirement is the standard foreachBatch one: ``transform`` must
    be deterministic per batch.

    Concurrency: another publisher (the scheduler's CDC rebuild, a
    second stream) racing this sink trips either the ``expect_mid``
    guard or the commit CAS; both raise the retryable
    :class:`~..sources.pointer.ConcurrentPublishError`, and the sink
    recomputes against the new live snapshot up to ``max_retries``
    times — each retry re-reads the moved snapshot, so the merge is
    never applied twice. Pass a lake constructed with
    ``grace_seconds`` > the longest publish when writers overlap.
    """
    from ..sources.pointer import ConcurrentPublishError

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        if out.isEmpty():
            return
        for attempt in range(max_retries + 1):
            try:
                lake.merge_rows(out, key_cols=key_cols, delete_col=delete_col)
                return
            except ConcurrentPublishError:
                if attempt == max_retries:
                    raise

    return _sink


def foreach_batch_incremental_mart(
    lake: LakeTable,
    partials,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink composing the partition rebuild with incremental
    mart maintenance: each micro-batch overwrites the lake partitions it
    touches, then refreshes ONLY those partitions' mart partials
    (``plans.mart_incremental.IncrementalMart``) — continuous end-to-end
    CDC → lake → mart with per-batch cost ∝ change set.

    Input contract (same as ``foreach_batch_partition_overwrite``): each
    micro-batch must be a PARTITION-COMPLETE re-extract — the full
    rebuilt content of every partition it touches, the shape
    ``plans.incremental.IncrementalLoader.extract_partitions`` produces —
    because the overwrite REPLACES touched partitions wholesale.
    Raw per-row appends would erase a partition's earlier rows.

    Idempotent per batch (C4): both steps rewrite state to a pure
    function of the lake's post-overwrite content, so micro-batch
    replays after a crash converge to the same lake AND the same mart.

    ``partials`` is an ``IncrementalMart`` (untyped to keep streaming
    import-light).
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> bool:
        # returns whether the batch wrote anything (Spark ignores the
        # return value; the publish wrapper composes on it so emptiness
        # and the transform are evaluated exactly ONCE per batch)
        out = transform(batch_df) if transform else batch_df
        if out.isEmpty():
            return False
        lake.overwrite_partitions(out)
        changed = [
            r.year_month for r in out.select("year_month").distinct().collect()
        ]
        partials.refresh(changed)
        return True

    return _sink


def foreach_batch_incremental_mart_publish(
    lake: LakeTable,
    partials,
    publisher,
    now_fn: Callable[[], "object"],
    tables: tuple = ("sales_history_1", "sales_history_2"),
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink closing the FULL reference loop continuously:
    micro-batch → lake partition overwrite → incremental mart partials →
    staging write → TRANSACTIONAL publish, per batch.

    ``publisher`` is anything exposing ``write_staging(table, df)`` +
    ``publish(table)`` — the directory-snapshot :class:`~..pipelines.
    MartPublisher` or the database-transaction :class:`~..sources.jdbc.
    JdbcMartPublisher` (the reference's actual SQL Server protocol,
    exercised against embedded Derby in tests). ``now_fn`` supplies the
    refresh stamp per batch (clock injection, SURVEY §7.5).

    Idempotent per batch like the underlying sink (C4): a replay
    rewrites the same partitions, recomputes the same partials, and the
    publish is truncate-and-fill of state that is a pure function of the
    lake — convergent, not duplicating. Per-batch cost stays ∝ change
    set: the partials refresh only touched partitions, and the mart
    aggregate read off the partials is partial-table-sized.
    """
    inner = foreach_batch_incremental_mart(lake, partials, transform=transform)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not inner(batch_df, batch_id):
            return  # empty batch: inner already evaluated that, once
        refresh = now_fn()
        if "sales_history_1" in tables:
            publisher.write_staging("sales_history_1", partials.client_count(refresh))
            publisher.publish("sales_history_1")
        if "sales_history_2" in tables:
            publisher.write_staging("sales_history_2", partials.sales_agg(refresh))
            publisher.publish("sales_history_2")

    return _sink


def foreach_batch_ivf_store_upsert(
    store_path: str,
    codebook_cells: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: continuously-growing IVF cell-partitioned
    vector store — the streaming ingest path of the ANN disk layout
    (``operators.similarity.write_ivf_partitioned`` is the batch build,
    ``ivf_partitioned_topk`` the probe; this maintains the store as new
    embeddings arrive).

    Each micro-batch is cell-assigned with the SAME versioned codebook
    the probes use (``codebook_cells`` = (cell, centroid) tuples, the
    collected artifact — model-sized by contract) and lands as
    ``batch=N/cell=C`` partitions: probes keep pruning at the
    file-listing level as the store grows, prior batches are never
    rewritten, and a micro-batch replay overwrites its OWN batch
    directory (exactly-once, same pattern as the corpus-dedup store).
    """
    from ..operators.similarity import ivf_store_append_batch

    cells = sorted((int(c), [float(x) for x in v]) for c, v in codebook_cells)
    if not cells:
        raise ValueError("foreach_batch_ivf_store_upsert: empty codebook")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        vecs = batch_df.select(id_col, vec_col)
        if vecs.isEmpty():
            return
        ivf_store_append_batch(
            vecs, cells, store_path, batch_id, id_col=id_col, vec_col=vec_col
        )

    return _sink


def _prior_batches(spark, path: str, batch_id: int) -> bool:
    """True iff ``path`` already holds ``batch=`` levels other than this
    one — through the Hadoop FileSystem API, so the check honors the
    path's ACTUAL scheme (HDFS/S3A/local all work; a driver-local
    os.listdir would silently return False forever on any non-local
    store, breaking the no-accepted-near-dup invariant per batch).
    Shared by the online dedup sinks (corpus and semantic)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hfs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not hfs.exists(hpath):
        return False
    return any(
        st.getPath().getName().startswith("batch=")
        and st.getPath().getName() != f"batch={batch_id}"
        for st in hfs.listStatus(hpath)
    )


def foreach_batch_online_corpus_dedup(
    store_path: str,
    threshold: float = 0.2,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: continuously-deduplicated corpus ingestion.

    The streaming form of :func:`~..operators.dedup.
    minhash_near_duplicates_incremental` — each micro-batch of documents
    (doc_id, text) is near-dup-probed against everything accepted so
    far, survivors are appended, and the corpus's LSH band index is
    maintained as a first-class stored artifact:

    - ``{store}/docs/batch=N``  — accepted (doc_id, text)
    - ``{store}/bands/batch=N`` — their (doc_id, band, bh) index rows

    Per-batch cost is O(batch) hashing + one bucket join against the
    fixed-width index — the base corpus is NEVER re-hashed (the index
    is what makes this viable at 100 TB: re-hashing the base per batch
    would be O(corpus) per micro-batch forever).

    Accept rule: a batch doc is dropped iff it near-dups an
    already-accepted doc, or a smaller-id doc of the SAME batch (greedy
    pairwise over id1 < id2). Guarantee: NO two accepted docs are
    near-duplicates — the invariant the batch `dedup_apply` query
    establishes once, maintained online. Like component-canonical
    dedup, the failure mode is one-sided: a doc can be dropped because
    of a neighbor that was itself dropped (over-drop, never a kept
    near-dup pair).

    Exactly-once: both writes go to ``batch=N`` subdirectories in
    overwrite mode, so a micro-batch replay after a crash rewrites the
    same directories to the same content (the accept decision is a pure
    function of the store state before batch N, which replays
    identically because batch N's own dirs are overwritten, not
    appended).
    """
    import os

    from ..operators.dedup import (
        minhash_band_store,
        minhash_near_duplicates_incremental,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text")
        if docs.isEmpty():
            return
        docs = docs.persist()
        docs_dir = os.path.join(store_path, "docs")
        bands_dir = os.path.join(store_path, "bands")
        # exclude THIS batch's dirs so a replay recomputes against the
        # same base state it saw the first time
        have_store = _prior_batches(spark, docs_dir, batch_id)
        if have_store:
            base = spark.read.parquet(docs_dir).where(
                F.col("batch") != batch_id
            ).select("doc_id", "text")
            base_bands = spark.read.parquet(bands_dir).where(
                F.col("batch") != batch_id
            ).select("doc_id", "band", "bh")
        else:
            base = spark.createDataFrame([], "doc_id long, text string")
            base_bands = spark.createDataFrame(
                [], "doc_id long, band int, bh long"
            )
        pairs = minhash_near_duplicates_incremental(
            base, docs, text_col="text", id_col="doc_id",
            threshold=threshold, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, base_bands=base_bands,
        )
        base_ids = base.select(F.col("doc_id").alias("bid"))
        # drop the batch side of every base-batch pair, and the larger
        # id of every batch-batch pair
        p = pairs.join(
            base_ids.withColumnRenamed("bid", "id1"), "id1", "left_semi"
        ).select(F.col("id2").alias("doc_id"))
        q = pairs.join(
            base_ids.withColumnRenamed("bid", "id2"), "id2", "left_semi"
        ).select(F.col("id1").alias("doc_id"))
        bb = (
            pairs.join(base_ids.withColumnRenamed("bid", "id1"), "id1", "left_anti")
            .join(base_ids.withColumnRenamed("bid", "id2"), "id2", "left_anti")
            .select(F.col("id2").alias("doc_id"))
        )
        drops = p.unionByName(q).unionByName(bb).distinct()
        accepted = docs.join(drops, "doc_id", "left_anti").persist()
        accepted.write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"batch={batch_id}")
        )
        minhash_band_store(
            accepted, "text", "doc_id",
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        ).write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"batch={batch_id}")
        )
        docs.unpersist()
        accepted.unpersist()
        # drain the scoped persists the incremental-dedup operator
        # registered on THIS (stream-execution) thread: both writes are
        # done, and without the release a long-running stream would
        # accumulate two pinned caches per micro-batch forever — the
        # scope registry holds strong references, so not even the
        # ContextCleaner could reclaim them.
        release_caches()

    return _sink


def foreach_batch_online_semantic_dedup(
    store_path: str,
    codebook_cells: list,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: continuously semantically-deduplicated
    embedding ingestion — the streaming form of
    :func:`~..operators.similarity.semantic_dedup_incremental`.

    Each micro-batch of vectors is cell-assigned with the versioned
    codebook (``codebook_cells`` = collected (cell, centroid) tuples),
    probed against the accepted store AT ITS CELLS ONLY (``cell IN
    (…)`` → partition pruning inside every ``batch=K`` level), and
    survivors land as ``{store}/vecs/batch=N/cell=C`` partitions.

    Accept rule: a batch vector is dropped iff it has cosine ≥
    ``threshold`` to an already-accepted vector in its cell, or to a
    smaller-id vector of the SAME batch and cell (greedy pairwise).
    Invariant maintained online: no two ACCEPTED vectors share a cell
    with cosine ≥ threshold — the ``semantic_dedup`` batch query's
    keep-set property, continuous form, with the same one-sided
    failure mode (over-drop, never a kept near-dup pair) and the same
    cross-cell recall trade. Exactly-once: batch N overwrites its own
    directory, and the probe excludes ``batch = N`` rows, so a crash
    replay recomputes against the identical base state.

    Scale: per-batch cost is O(batch) assignment + one pruned
    cell-join against the store — accepted history is never
    re-assigned or re-scanned outside the probed cells.
    """
    import os

    from ..operators.similarity import cosine, ivf_assign

    cells = sorted((int(c), [float(x) for x in v]) for c, v in codebook_cells)
    if not cells:
        raise ValueError("foreach_batch_online_semantic_dedup: empty codebook")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vecs = batch_df.select(id_col, vec_col)
        if vecs.isEmpty():
            return
        vecs_dir = os.path.join(store_path, "vecs")
        assigned = ivf_assign(vecs, cells, id_col=id_col, vec_col=vec_col).persist()
        probe_cells = sorted(
            r["cell"] for r in assigned.select("cell").distinct().collect()
        )
        b1 = assigned.select(
            F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), "cell"
        )
        b2 = assigned.select(
            F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"), "cell"
        )
        # within-batch greedy pairwise: the larger id of each in-cell pair
        bb = (
            b1.join(b2, "cell")
            .where(F.col("id1") < F.col("id2"))
            .where(cosine(F.col("v1"), F.col("v2")) >= threshold)
            .select(F.col("id2").alias(id_col))
        )
        if _prior_batches(spark, vecs_dir, batch_id):
            base = (
                spark.read.parquet(vecs_dir)
                .where(F.col("batch") != batch_id)
                .where(F.col("cell").isin(probe_cells))
                .select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), "cell")
            )
            cross = (
                base.join(b2, "cell")
                .where(cosine(F.col("v1"), F.col("v2")) >= threshold)
                .select(F.col("id2").alias(id_col))
            )
            drops = bb.unionByName(cross).distinct()
        else:
            drops = bb.distinct()
        accepted = assigned.join(drops, id_col, "left_anti")
        accepted.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(vecs_dir, f"batch={batch_id}")
        )
        assigned.unpersist()

    return _sink


def streaming_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "amount",
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) maintained
    across micro-batches with ``applyInPandasWithState`` — the escape
    hatch for stateful logic no built-in streaming aggregation expresses
    (the reference's run-ledger accumulation, continuous form).

    Emits one row per key per micro-batch that touched it (update-mode
    semantics): the key's NEW running totals. State is one (long, double)
    pair per key — O(distinct keys) memory, partitioned by the groupBy
    hash, so it scales horizontally with executors.

    The stateful Python surface is deliberately TINY — this accumulator
    and :func:`streaming_transition_counts` (which needs per-key
    last-event ORDER state no native streaming aggregation holds):
    everything expressible as watermarked aggs/dedup/session_window uses
    the native operators above (JVM state store, no Python round-trip);
    Arrow batches amortize the transfer here.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    # key output type follows the input schema (string keys work too)
    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, event_count long, value_sum double"
    state_schema = "event_count long, value_sum double"

    def update(key, pdfs, state):
        (k,) = key
        cnt, vsum = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            vsum += float(pdf[value_col].fillna(0.0).sum())
        state.update((cnt, vsum))
        yield pd.DataFrame(
            {key_col: [k], "event_count": [cnt], "value_sum": [vsum]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_transition_counts(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming first-order transition counter: per-key (from_type,
    to_type) pair deltas maintained across micro-batches — the online
    form of the batch ``event_transition_matrix``. No native streaming
    aggregation can express it (a transition needs the PREVIOUS event,
    i.e. per-key ORDER state across batch boundaries), so this is the
    second member of the engine's deliberately tiny
    ``applyInPandasWithState`` surface.

    State per key: the (ts, id, type) of the key's LAST event — O(1),
    O(distinct keys) total, partitioned by the groupBy hash. Each
    micro-batch sorts its key's rows by (ts, id), prepends the carried
    last event, and emits one row per observed (from, to) pair with its
    count DELTA for this batch (update-mode semantics: downstream sums
    deltas; the test proves Σ deltas ≡ the batch LEAD-window counts).

    Caveat (inherent to the online form): transitions are counted in
    ARRIVAL order within the watermark — an event arriving after a
    later-timestamped neighbor was already consumed cannot retract the
    pair it split; the batch twin is the replayable exact form.

    .. deprecated:: prefer
        :func:`streaming_transition_counts_event_time` for new
        pipelines — it buffers per-key events until the WATERMARK seals
        them, so pairs are emitted in event-time order regardless of
        arrival order (shuffled-arrival pytest ≡ the batch twin), at
        the cost of watermark-bounded state and emission latency. Use
        THIS arrival-order form only when sub-watermark latency matters
        more than late-event exactness.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    # key/id output+state types follow the input schema (string user
    # ids, int event ids, … all work); only ts is pinned to long
    # because the select below rewrites it as unix_micros.
    key_type = events.schema[key_col].dataType.simpleString()
    id_type = events.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, from_type string, to_type string, delta long"
    )
    state_schema = f"last_ts long, last_id {id_type}, last_type string"

    def update(key, pdfs, state):
        (k,) = key
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values([ts_col, id_col])
        pairs: dict = {}
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = (None, None, None)
        for t, i, ty in zip(
            rows[ts_col].astype("int64").tolist(),
            rows[id_col].tolist(),
            rows[type_col].tolist(),
        ):
            if last_type is not None:
                pr = (last_type, ty)
                pairs[pr] = pairs.get(pr, 0) + 1
            last_ts, last_id, last_type = t, i, ty
        state.update((last_ts, last_id, last_type))
        if pairs:
            yield pd.DataFrame(
                {
                    key_col: [k] * len(pairs),
                    "from_type": [a for a, _ in pairs],
                    "to_type": [b for _, b in pairs],
                    "delta": list(pairs.values()),
                }
            )

    # ts arrives as int64 epoch-micros inside the Arrow batch when the
    # caller casts; keep the cast here so both engines agree on order
    src = events.select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col)).alias(ts_col),
        F.col(id_col),
        F.col(type_col),
    )
    return src.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_transition_counts_event_time(
    events: DataFrame,
    watermark: str = "10 minutes",
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """EVENT-TIME-correct streaming transition counter (VERDICT r8 #6):
    unlike :func:`streaming_transition_counts` (arrival order inside
    the watermark — an out-of-order event cannot retract the pair it
    splits), this form BUFFERS each key's events in state and emits a
    (from_type, to_type) pair only once the watermark has passed the
    later event — at which point no earlier-timestamped arrival is
    admissible, so the pair is FINAL. Online results therefore equal
    the batch ``event_transition_matrix`` over the finalized region
    under ANY arrival reordering the watermark admits (pytest shuffles
    arrivals across micro-batches deliberately).

    Mechanics per key:
    - state = (buffered (ts, id, type) triples not yet finalizable,
      last finalized type) — O(events inside the watermark horizon)
      per key, the price of exactness under reordering; the horizon
      bounds it, exactly like any event-time stream join.
    - each invocation merges new rows into the buffer (dropping rows
      already behind the watermark — they are late by contract), then
      finalizes the sorted prefix with ts < current watermark: pairs
      chain from the carried last finalized type through the prefix.
    - an ``EventTimeTimeout`` set at the earliest buffered ts wakes
      the key when the watermark passes it even if no new events for
      that key arrive, so finalization never needs a same-key arrival.

    Emitted deltas are final (never revised): downstream sums are
    exact counts over events the watermark has sealed.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = events.schema[key_col].dataType.simpleString()
    id_type = events.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, from_type string, to_type string, delta long"
    )
    state_schema = (
        f"buf_ts array<long>, buf_id array<{id_type}>, "
        "buf_type array<string>, last_type string"
    )

    def update(key, pdfs, state):
        (k,) = key
        if state.exists:
            buf_ts, buf_id, buf_type, last_type = state.get
            buf = list(zip(buf_ts, buf_id, buf_type))
        else:
            buf, last_type = [], None
        wm_us = (state.getCurrentWatermarkMs() or 0) * 1000
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            for t, i, ty in zip(
                rows["__ts_us"].astype("int64").tolist(),
                rows[id_col].tolist(),
                rows[type_col].tolist(),
            ):
                # late by contract: the watermark already passed this
                # ts, so pairs around it were (or may have been)
                # finalized — admitting it would re-split them
                if t >= wm_us:
                    buf.append((t, i, ty))
        # (ts, id) — the batch twin's exact order; ids are homogeneous
        # within a stream, so native comparison is correct for ints AND
        # strings (str()-coercing an int id would order "10" < "9" and
        # diverge from the LEAD window on timestamp ties)
        buf.sort(key=lambda e: (e[0], e[1]))
        pairs: dict = {}
        keep = []
        for e in buf:
            if e[0] < wm_us:
                if last_type is not None:
                    pr = (last_type, e[2])
                    pairs[pr] = pairs.get(pr, 0) + 1
                last_type = e[2]
            else:
                keep.append(e)
        state.update(
            (
                [e[0] for e in keep],
                [e[1] for e in keep],
                [e[2] for e in keep],
                last_type,
            )
        )
        if keep:
            # wake when the watermark passes the earliest buffered event
            state.setTimeoutTimestamp(keep[0][0] // 1000 + 1)
        if pairs:
            yield pd.DataFrame(
                {
                    key_col: [k] * len(pairs),
                    "from_type": [a for a, _ in pairs],
                    "to_type": [b for _, b in pairs],
                    "delta": list(pairs.values()),
                }
            )

    # the watermark column itself must flow through the projection (a
    # derived column does not inherit it); the micros twin rides along
    # so the kernel never touches pandas datetime units
    src = events.withWatermark(ts_col, watermark).select(
        F.col(key_col),
        F.col(ts_col),
        F.unix_micros(F.col(ts_col)).alias("__ts_us"),
        F.col(id_col),
        F.col(type_col),
    )
    return src.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def foreach_batch_token_budget_ingest(
    store_path: str,
    budgets: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: budget-bounded corpus ingestion — the
    streaming form of :func:`~..operators.sampling.token_budget_mix`.
    Each micro-batch admits documents per source until the source's
    token budget is exhausted ACROSS the whole stream:

    - ``{store}/docs/batch=N`` — accepted (id, source, tokens, text)

    Accept rule: a doc is admitted iff tokens consumed by prior
    batches PLUS the tokens of batch peers ordered before it (md5
    order within the batch) are still under budget — so each
    micro-batch runs the batch operator against the REMAINING budgets
    (one sources-sized aggregate over the store computes what prior
    batches consumed; control-plane, ``budgets`` is driver-sized by
    contract). The crossing document is admitted (coverage ≥ budget),
    after which the source's remaining budget clamps to 0 and every
    later batch admits nothing for it.

    Ordering note: the batch form selects in GLOBAL md5 order; the
    online form is arrival-greedy across micro-batches (md5 order
    within each batch) — the inherent streaming difference, same
    budget guarantee.

    Exactly-once: the accepted set is a pure function of the store
    state before batch N (this batch's own dir is excluded from the
    consumed sum and overwritten, not appended), so a replay after a
    crash rewrites ``batch=N`` to identical content.
    """
    import os

    from ..operators.sampling import token_budget_mix

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(id_col, source_col, text_col)
        if docs.isEmpty():
            return
        docs_dir = os.path.join(store_path, "docs")
        consumed: dict = {}
        if _prior_batches(spark, docs_dir, batch_id):
            rows = (
                spark.read.parquet(docs_dir)
                .where(F.col("batch") != batch_id)
                .groupBy(source_col)
                .agg(F.sum("tokens").alias("t"))
                .collect()
            )
            consumed = {r[source_col]: int(r["t"]) for r in rows}
        remaining = {
            s: max(0, int(b) - consumed.get(s, 0)) for s, b in budgets.items()
        }
        accepted = token_budget_mix(
            docs,
            remaining,
            id_col=id_col,
            text_col=text_col,
            source_col=source_col,
        )
        (
            accepted.join(docs.select(id_col, text_col), id_col)
            .select(id_col, source_col, "tokens", text_col)
            .write.mode("overwrite")
            .parquet(os.path.join(docs_dir, f"batch={batch_id}"))
        )

    return _sink


def streaming_hopping_agg(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    size: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Watermarked HOPPING-window aggregation — the streaming twin of
    the graded batch query `events_hopping_agg` (each event lands in
    size/slide overlapping windows; Spark plans the slide as an Expand
    under one aggregation). State is bounded by (watermark horizon /
    slide) × key cardinality — the slide multiplies open-window state
    vs the tumbling form, which is why the watermark matters more here.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return (
        src.groupBy(
            F.window(F.col(ts_col), size, slide).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("amount").alias("amount_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "amount_sum",
        )
    )


def foreach_batch_drift_monitor(
    ledger_path: str,
    ref_counts: dict,
    value_col: str = "value",
    bin_unit_scaled: int = 25_000_000,
) -> "Callable[[DataFrame, int], None]":
    """foreachBatch sink: online distribution-drift monitor — each
    micro-batch's ``value_col`` histogram is compared against a FROZEN
    reference histogram (``ref_counts``: bin → count, the training-time
    distribution; control-plane-sized by contract) and one PSI row is
    appended to ``{ledger}/batch=N``.

    The PSI arithmetic is :func:`~..operators.stats.psi_from_counts` —
    bit-identical to the batch `value_drift_psi` query's smoothing and
    integer scaling, so online and offline drift numbers share one
    scale. Binning matches too: exact integer arithmetic on the per-row
    1e6-scaled value (never FLOOR of a libm expression).

    Scale: the only data-sized step is one map-side-combined groupBy
    per micro-batch; the collected histogram and the PSI math are
    bins-sized. Exactly-once: batch N's ledger row is a pure function
    of (ref_counts, batch N's rows) and OVERWRITES its own directory —
    a crash-replay rewrites identical content.
    """
    import os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.stats import psi_from_counts

        counts = {
            int(r["bin"]): int(r["c"])
            for r in batch_df.select(
                F.expr(
                    f"CAST(ROUND({value_col} * 1000000, 0) AS BIGINT)"
                    f" div {int(bin_unit_scaled)}"
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        psi = psi_from_counts(ref_counts, counts)
        spark = batch_df.sparkSession
        row = spark.createDataFrame(
            [(int(batch_id), sum(counts.values()), float(psi))],
            "batch_id long, n_rows long, psi double",
        )
        row.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(ledger_path, f"batch={batch_id}")
        )

    return sink


def foreach_batch_lm_quality_gate(
    lm_store_path: str,
    out_path: str,
    min_avg_log2p: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: stored-LM perplexity gate on an ingest stream
    — the online consumer the trigram store exists for (CCNet-style:
    train once on the reference corpus, gate every incoming batch).
    Each micro-batch is scored with
    :func:`~..operators.text.trigram_lm_score_from_store` (stupid
    backoff, per-doc branch counts) and split:

    - ``{out}/accepted/batch=N`` — docs with ``avg_log2p ≥ threshold``
      (and ≥ 1 trigram), with their scores and branch counts attached;
    - ``{out}/rejected/batch=N`` — the rest (too-perplexing docs AND
      sub-3-token docs, which the scorer cannot rate — a quality gate
      that silently passed unscorable docs would be a hole), with a
      ``reject_reason`` column ('low_score' / 'too_short').

    Exactly-once: the verdict for a doc is a pure function of the
    FROZEN store and the doc text, so a crash-replay of batch N
    rewrites both dirs (overwrite, not append) to identical content —
    the drift-monitor convention.

    Scale: the stored-LM probe broadcasts the batch against the
    hash-sorted count relations (no corpus rescan, no state); the gate
    itself is a scan-side filter on the scored relation.
    """
    import os

    from ..operators.text import trigram_lm_score_from_store

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(id_col, text_col)
        if docs.isEmpty():
            return
        scored = trigram_lm_score_from_store(
            spark, lm_store_path, docs, text_col=text_col, id_col=id_col
        )
        labeled = docs.join(scored, id_col, "left")
        accepted = labeled.where(
            F.col("avg_log2p") >= F.lit(float(min_avg_log2p))
        )
        rejected = labeled.where(
            F.col("avg_log2p").isNull()
            | (F.col("avg_log2p") < F.lit(float(min_avg_log2p)))
        ).withColumn(
            "reject_reason",
            F.when(F.col("avg_log2p").isNull(), F.lit("too_short")).otherwise(
                F.lit("low_score")
            ),
        )
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_path, "accepted", f"batch={batch_id}")
        )
        rejected.write.mode("overwrite").parquet(
            os.path.join(out_path, "rejected", f"batch={batch_id}")
        )

    return _sink


def streaming_rolling_actives(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
    late_days: int = 1,
) -> DataFrame:
    """Trailing-N-day DISTINCT active users per day over a stream —
    the streaming twin of the graded batch query
    ``rolling_active_users``. COUNT(DISTINCT) is unsupported in
    streaming aggregations, so the batch twin's decomposition IS the
    streaming plan: contribution explode (each event's day feeds the N
    window-end days it contributes to), a watermarked
    ``dropDuplicates`` on (win_day, user) — JVM state store, one key
    per active (day, user) pair inside the watermark horizon — then a
    per-win_day COUNT.

    Chained stateful operators (dedup → agg) require APPEND output
    mode; a win_day row emits once, final, when the watermark passes
    it. The watermark is declared on win_day (a derived column does
    not inherit the source column's watermark), and because win_day
    runs up to N−1 days AHEAD of the event's day, the delay is widened
    by window_days−1: an on-time event's EARLIEST contribution
    (win_day = its own day) trails the stream's max win_day by N−1
    days, so under the DOCUMENTED watermark model a narrower delay
    licenses the engine to drop on-time events' early contributions
    as late once a second micro-batch arrives. (Empirically this
    build's dropDuplicates admits them anyway — probed directly — but
    that is engine behavior, not contract; the widened delay makes
    correctness contractual at the cost of N−1 extra days of state,
    and the multi-batch pytest pins it.) Effective delay =
    (window_days − 1 + late_days) days; ``late_days`` is the genuine
    event-time lateness budget.
    State: dedup holds (day, user) keys, the agg holds day counters;
    both evicted at the watermark, so steady-state memory is
    N × daily-actives + horizon days — independent of stream length.
    """
    day = F.date_trunc("DAY", F.col(ts_col))
    contrib = events.select(day.alias("day"), F.col(user_col).alias("user_id")).select(
        F.explode(
            F.expr(
                f"sequence(day, day + interval {window_days - 1} days,"
                " interval 1 day)"
            )
        ).alias("win_day"),
        "user_id",
    )
    if events.isStreaming:
        contrib = contrib.withWatermark(
            "win_day", f"{window_days - 1 + late_days} days"
        )
    return (
        contrib.dropDuplicates(["win_day", "user_id"])
        .groupBy("win_day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
    )


def foreach_batch_edge_store_append(
    store_path: str, buckets: int | None = None
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: maintains the co-purchase EDGE STORE as
    order-complete lineitem micro-batches arrive — the streaming ingest
    path of the graph-as-asset layout (``operators.graph
    .write_edge_store`` is the batch build; iterative consumers probe
    via ``read_edge_store_batched``).

    Each micro-batch's baskets expand to edges in-row (basket-size
    bounded) and land as ``batch=N/bucket=B`` partitions: prior batches
    are never rewritten, a replayed batch overwrites only its own
    directory (exactly-once), and the bucket axis keeps small-frontier
    probes pruning as the graph grows. Batch boundaries must be
    order-complete (the append contract — pairs never span batches).
    """
    from ..operators.graph import EDGE_STORE_BUCKETS, edge_store_append_batch

    b = EDGE_STORE_BUCKETS if buckets is None else buckets

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("l_orderkey", "l_partkey")
        if rows.isEmpty():
            return
        edge_store_append_batch(rows, store_path, batch_id, buckets=b)

    return _sink


def foreach_batch_online_copy_gate(
    store_path: str,
    min_shared: int = 1,
    df_cap: int = 50,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: continuously copy-gated corpus ingestion over
    a growing WINNOWING fingerprint index — the streaming twin of
    ``operators.text.winnow_copies_incremental`` and the third member
    of the online-ingest trio (LSH set-similarity dedup, semantic
    dedup, and now MOSS-style copied-run detection: a batch doc is
    rejected when it shares ≥ ``min_shared`` winnowed fingerprints —
    i.e. a ≥ w+k−1-token run — with anything accepted so far, or with
    a smaller-id doc of its own batch).

    Store layout (exactly-once by batch-scoped overwrite, the same
    replay argument as the other online sinks):

    - ``{store}/docs/batch=N`` — accepted (doc_id, text)
    - ``{store}/fps/batch=N``  — their (doc_id, fp_hash) rows

    Per-batch cost: O(batch) fingerprinting + one hash join against
    the stored index; the accepted corpus is never re-fingerprinted.
    Over-drop one-sidedness matches the LSH sink: a doc can be dropped
    because of a neighbor that was itself dropped, but no two accepted
    docs share a fingerprinted run.

    ``df_cap`` is the stop-gram guard the batch paths apply at build
    time (``winnow_store_bucketed``), applied here on READ of the
    accumulated index (ADVICE r9): a fingerprint present in more than
    ``df_cap`` accepted documents is a boilerplate run, and joining it
    would mint df matches per probing doc, every batch, growing with
    the corpus. The cap is computed over the accumulated index each
    batch (the probe join scans that same relation anyway), so a
    fingerprint that crosses the cap as the corpus grows stops matching
    from that batch on — exactly the build-time semantics. The same cap
    bounds the within-batch pair enumeration.
    """
    import os

    from ..operators.text import winnow_copies_incremental, winnow_fingerprints

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text")
        if docs.isEmpty():
            return
        docs = docs.persist()
        docs_dir = os.path.join(store_path, "docs")
        fps_dir = os.path.join(store_path, "fps")
        if _prior_batches(spark, fps_dir, batch_id):
            base_all = spark.read.parquet(fps_dir).where(
                F.col("batch") != batch_id
            ).select("doc_id", "fp_hash")
            # stop-gram guard: drop hyper-common fingerprints before
            # the probe join (one agg over the relation the join scans
            # regardless — no extra asymptotic cost)
            base_ok = base_all.groupBy("fp_hash").agg(
                F.count(F.lit(1)).alias("__df")
            ).where(F.col("__df") <= df_cap).select("fp_hash")
            base_fps = base_all.join(base_ok, "fp_hash")
        else:
            base_fps = spark.createDataFrame([], "doc_id long, fp_hash long")
        cross = winnow_copies_incremental(
            base_fps, docs, min_shared=min_shared
        ).select(F.col("batch_doc").alias("doc_id"))
        # within-batch: greedy pairwise, larger id drops; the same
        # df_cap bounds a boilerplate gram's B² pair blowup
        bfps_all = (
            winnow_fingerprints(docs).select("doc_id", "fp_hash").distinct()
        )
        bok = bfps_all.groupBy("fp_hash").agg(
            F.count(F.lit(1)).alias("__df")
        ).where(F.col("__df") <= df_cap).select("fp_hash")
        bfps = bfps_all.join(bok, "fp_hash")
        a = bfps.select(F.col("doc_id").alias("id1"), "fp_hash")
        b = bfps.select(F.col("doc_id").alias("id2"), "fp_hash")
        within = (
            a.join(b, "fp_hash")
            .where(F.col("id1") < F.col("id2"))
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("s"))
            .where(F.col("s") >= min_shared)
            .select(F.col("id2").alias("doc_id"))
        )
        drops = cross.unionByName(within).distinct()
        accepted = docs.join(drops, "doc_id", "left_anti").persist()
        accepted.write.mode("overwrite").parquet(
            os.path.join(docs_dir, f"batch={batch_id}")
        )
        winnow_fingerprints(accepted).select("doc_id", "fp_hash").distinct(
        ).write.mode("overwrite").parquet(
            os.path.join(fps_dir, f"batch={batch_id}")
        )
        docs.unpersist()
        accepted.unpersist()
        release_caches()

    return _sink
