"""Batched-store compaction (VERDICT r6 #3): merging `batch=N` levels
back to the flat layout must be probe-invisible —
probe(compacted) ≡ probe(batched) ≡ probe(rebuild) — and must actually
bound the file/dir growth N appends created."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.operators.stores import (
    compact_store_batches,
)
from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog


def _parquet_files(root: str) -> int:
    return sum(
        1
        for dirpath, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _batch_dirs(root: str) -> list[str]:
    out = []
    for dirpath, dirnames, _ in os.walk(root):
        out.extend(d for d in dirnames if d.startswith("batch="))
    return out


@pytest.mark.slow
def test_postings_store_compaction_probe_equivalence(spark, tmp_path):
    """Three appends → compact → flat store: the probe returns the
    rebuild's rows bit-for-bit (exact-integer stats/df recomposition),
    batch levels are gone, stats collapse to ONE row, and the postings
    file count lands at-or-below a single build's (the growth N appends
    caused is undone, not merely relabeled)."""
    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        build_postings_store,
        postings_store_append_batch,
    )

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    full = str(tmp_path / "full_store")
    incr = str(tmp_path / "incr_store")
    build_postings_store(docs, full)
    for b in range(3):
        postings_store_append_batch(
            docs.where(F.col("doc_id") % 3 == b), incr, batch_id=b
        )

    terms = ["spark", "hash", "window"]
    want = [tuple(r) for r in bm25_from_store(spark, full, terms, top_n=10).collect()]
    batched = [
        tuple(r) for r in bm25_from_store(spark, incr, terms, top_n=10).collect()
    ]
    assert batched == want and len(want) == 10

    files_before = _parquet_files(f"{incr}/postings")
    assert len(_batch_dirs(incr)) > 0
    res = compact_store_batches(spark, incr)
    assert res == {
        "kind": "postings",
        "compacted": True,
        "batches": ["batch=0", "batch=1", "batch=2"],
    }

    compacted = [
        tuple(r) for r in bm25_from_store(spark, incr, terms, top_n=10).collect()
    ]
    assert compacted == want
    assert _batch_dirs(incr) == []  # flat again, all four relations
    assert spark.read.parquet(f"{incr}/stats").count() == 1
    files_after = _parquet_files(f"{incr}/postings")
    assert files_after < files_before
    assert files_after <= _parquet_files(f"{full}/postings")
    # every bucket directory collapsed to one file (bucket-keyed shuffle)
    for d in os.listdir(f"{incr}/postings"):
        if d.startswith("bucket="):
            n = _parquet_files(f"{incr}/postings/{d}")
            assert n == 1, f"{d}: {n} files"

    # a second compaction is a no-op on the now-flat store
    assert compact_store_batches(spark, incr) == {
        "kind": "postings",
        "compacted": False,
        "batches": [],
    }


@pytest.mark.slow
def test_postings_compaction_bounds_files_across_many_appends(spark, tmp_path):
    """The maintenance loop the operator exists for: 6 appends + compact
    keeps the postings file count constant instead of linear in batch
    count."""
    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        postings_store_append_batch,
    )

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    store = str(tmp_path / "rolling_store")
    for b in range(6):
        postings_store_append_batch(
            docs.where(F.col("doc_id") % 6 == b), store, batch_id=b
        )
    grown = _parquet_files(f"{store}/postings")
    res = compact_store_batches(spark, store)
    assert res["compacted"] and len(res["batches"]) == 6
    shrunk = _parquet_files(f"{store}/postings")
    assert shrunk <= grown / 3  # 6 batches of listing overhead undone
    # and the probe still answers (full equality proven in the 3-batch test)
    assert len(bm25_from_store(spark, store, ["spark"], top_n=5).collect()) == 5


def test_ivf_store_compaction_probe_equivalence(spark, tmp_path):
    """IVF: 3 appended batches → compact → flat cell=C layout. The
    partition-pruned probe returns exactly the projection-assignment
    search's rows before AND after, and PartitionFilters still prunes
    on cell (the index property survives the flatten)."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivf_codebook_topk,
        ivf_partitioned_topk,
        ivf_store_append_batch,
    )

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings.select(
        "vec_id", "embedding"
    )
    codebook_df = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cells = [(r.cell, list(r.centroid)) for r in codebook_df.collect()]
    store = str(tmp_path / "ivf_store")
    for b in range(3):
        ivf_store_append_batch(
            emb.where(F.col("vec_id") % 3 == b), cells, store, batch_id=b
        )

    queries = emb.where(F.col("vec_id") < 6)
    want = sorted(
        map(tuple, ivf_codebook_topk(emb, queries, codebook_df, n_probe=4, k=8).collect())
    )
    got_batched = sorted(
        map(
            tuple,
            ivf_partitioned_topk(
                spark, store, queries, codebook_df, n_probe=4, k=8
            ).collect(),
        )
    )
    assert got_batched == want

    files_before = _parquet_files(store)
    res = compact_store_batches(spark, store)
    assert res["kind"] == "ivf" and res["compacted"]
    assert res["batches"] == ["batch=0", "batch=1", "batch=2"]
    assert _batch_dirs(store) == []

    probe = ivf_partitioned_topk(spark, store, queries, codebook_df, n_probe=4, k=8)
    assert sorted(map(tuple, probe.collect())) == want
    assert _parquet_files(store) < files_before
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:300]

    assert compact_store_batches(spark, store)["compacted"] is False


def test_compact_missing_store_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no store at"):
        compact_store_batches(spark, str(tmp_path / "nope"))


def test_compact_semantic_streaming_store(spark, tmp_path):
    """The online-semantic-dedup store shares the IVF batched layout
    (vecs/batch=N/cell=C), so compact_store_batches must flatten it
    with the kept set and cell assignments preserved — the daily-ingest
    GC path for the streaming sink's store."""
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        compact_store_batches,
    )
    from bigdatapipelinepysparksqlserver_spark.streaming import (
        foreach_batch_online_semantic_dedup,
    )

    def vec(axis, eps=0.0):
        v = [0.0] * 16
        v[axis] = 1.0
        v[(axis + 1) % 16] = eps
        return v

    codebook = [(0, vec(0)), (1, vec(5)), (2, vec(10))]
    schema = "vec_id long, embedding array<double>"
    store = str(tmp_path / "sem_store")
    sink = foreach_batch_online_semantic_dedup(store, codebook, threshold=0.9)
    sink(spark.createDataFrame([(1, vec(0, 0.01)), (2, vec(5, 0.01))], schema), 0)
    sink(spark.createDataFrame([(10, vec(10, 0.02)), (11, vec(0, 0.02))], schema), 1)

    before = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{store}/vecs").collect()
    )
    assert [i for i, _ in before] == [1, 2, 10]  # 11 near-dups accepted 1

    info = compact_store_batches(spark, f"{store}/vecs")
    assert info["compacted"] and info["kind"] == "ivf"
    import os

    assert not any(
        d.startswith("batch=") for d in os.listdir(f"{store}/vecs")
    )
    after = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(f"{store}/vecs").collect()
    )
    assert after == before


@pytest.mark.slow
def test_ivfpq_append_probe_and_compaction_parity(spark, tmp_path):
    """The IVFPQ store's incremental form: append(A)+append(B) probes
    identically to rebuild(A∪B), compaction flattens batch levels with
    identical probe results and bounded directory counts."""
    import os

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivfpq_store_append_batch,
        ivfpq_topk,
        pq_sub_codebooks,
        write_ivfpq_store,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        compact_store_batches,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        _load_ivf_artifact,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings
    art = _load_ivf_artifact()
    codebook = spark.createDataFrame(
        sorted((int(c), v) for c, v in art["centroids"].items()),
        ["cell", "centroid"],
    ).select("cell", F.col("centroid").cast("array<double>").alias("centroid"))
    cbs = pq_sub_codebooks(emb)
    q = emb.where(F.col("vec_id") < 4)

    flat = str(tmp_path / "flat")
    write_ivfpq_store(emb, codebook, cbs, flat)
    want = sorted(
        map(tuple, ivfpq_topk(spark, flat, q, codebook, cbs, n_probe=6, k=10).collect())
    )

    batched = str(tmp_path / "batched")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    ivfpq_store_append_batch(a, codebook, cbs, batched, 0)
    ivfpq_store_append_batch(b, codebook, cbs, batched, 1)
    got_batched = sorted(
        map(tuple, ivfpq_topk(spark, batched, q, codebook, cbs, n_probe=6, k=10).collect())
    )
    assert got_batched == want

    # replay idempotence: re-appending batch 1 changes nothing
    ivfpq_store_append_batch(b, codebook, cbs, batched, 1)
    assert sorted(
        map(tuple, ivfpq_topk(spark, batched, q, codebook, cbs, n_probe=6, k=10).collect())
    ) == want

    info = compact_store_batches(spark, batched)
    assert info["kind"] == "ivf" and info["compacted"]
    assert not any(d.startswith("batch=") for d in os.listdir(batched))
    got_flat = sorted(
        map(tuple, ivfpq_topk(spark, batched, q, codebook, cbs, n_probe=6, k=10).collect())
    )
    assert got_flat == want
    # compacting a flat store is a no-op
    assert compact_store_batches(spark, batched)["compacted"] is False


@pytest.mark.slow
def test_postings_store_delete_equals_rebuild(spark, tmp_path):
    """Right-to-be-forgotten on the postings store: after deleting B's
    docs from a store over A∪B, every probe result equals a store built
    from A alone — stats/termstats decremented exactly, zero-df terms
    gone. Batched stores refuse until compacted."""
    import pyspark.sql.functions as F
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        build_postings_store,
        postings_store_append_batch,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        postings_store_delete_docs,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    docs = Catalog(spark, "/root/testdata/sf0.001").documents.select(
        "doc_id", "text"
    )
    a = docs.where(F.col("doc_id") % 3 != 0)
    b = docs.where(F.col("doc_id") % 3 == 0)

    full, only_a = str(tmp_path / "full"), str(tmp_path / "only_a")
    build_postings_store(docs, full)
    build_postings_store(a, only_a)
    info = postings_store_delete_docs(spark, full, b.select("doc_id"))
    assert info["deleted_docs"] == b.count()

    terms = ["data", "spark", "row"]
    got = sorted(map(tuple, bm25_from_store(spark, full, terms, top_n=20).collect()))
    want = sorted(
        map(tuple, bm25_from_store(spark, only_a, terms, top_n=20).collect())
    )
    assert got == want
    # exact stats recomposition, not just ranking agreement
    s_got = spark.read.parquet(f"{full}/stats").first()
    s_want = spark.read.parquet(f"{only_a}/stats").first()
    assert (s_got["n_docs"], s_got["total_dl"]) == (
        s_want["n_docs"],
        s_want["total_dl"],
    )
    ts_got = sorted(
        map(tuple, spark.read.parquet(f"{full}/termstats").collect())
    )
    ts_want = sorted(
        map(tuple, spark.read.parquet(f"{only_a}/termstats").collect())
    )
    assert ts_got == ts_want

    batched = str(tmp_path / "batched")
    postings_store_append_batch(a, batched, batch_id=0)
    with pytest.raises(ValueError, match="compact"):
        postings_store_delete_docs(spark, batched, b.select("doc_id"))


@pytest.mark.slow
def test_vector_store_delete_rewrites_only_affected_cells(spark, tmp_path):
    """Vector-store deletion: untouched cells' FILES survive byte-level
    (mtime-stable), deleted ids gone, a fully-emptied cell's directory
    is removed, probe equals a store built without the ids."""
    import os

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivfpq_topk,
        pq_sub_codebooks,
        write_ivfpq_store,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        vector_store_delete_ids,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        _load_ivf_artifact,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings
    art = _load_ivf_artifact()
    codebook = spark.createDataFrame(
        sorted((int(c), v) for c, v in art["centroids"].items()),
        ["cell", "centroid"],
    ).select("cell", F.col("centroid").cast("array<double>").alias("centroid"))
    cbs = pq_sub_codebooks(emb)
    store = str(tmp_path / "vstore")
    write_ivfpq_store(emb, codebook, cbs, store)

    # delete every vector of ONE cell (empties it) + a few scattered ids
    full = spark.read.parquet(store)
    one_cell = int(full.groupBy("cell").count().orderBy("count").first()["cell"])
    cell_ids = [
        int(r["vec_id"])
        for r in full.where(F.col("cell") == one_cell).collect()
    ]
    victim_ids = sorted(set(cell_ids) | {0, 1})
    pre_mtime = {
        d: os.path.getmtime(os.path.join(store, d))
        for d in os.listdir(store)
        if d.startswith("cell=")
    }
    ids_df = spark.createDataFrame([(i,) for i in victim_ids], "vec_id long")
    info = vector_store_delete_ids(spark, store, ids_df)
    assert info["emptied_cells"] >= 1
    assert not os.path.isdir(os.path.join(store, f"cell={one_cell}"))

    after = spark.read.parquet(store)
    assert after.where(F.col("vec_id").isin(victim_ids)).count() == 0
    # untouched cells were not rewritten
    survivors_ut = {
        d: m for d, m in pre_mtime.items()
        if os.path.isdir(os.path.join(store, d))
        and os.path.getmtime(os.path.join(store, d)) == m
    }
    assert survivors_ut, "every cell was rewritten — pruning did not engage"

    # probe equality vs a store built without the ids
    clean = str(tmp_path / "clean")
    write_ivfpq_store(
        emb.where(~F.col("vec_id").isin(victim_ids)), codebook, cbs, clean
    )
    q = emb.where(F.col("vec_id") < 4)
    got = sorted(map(tuple, ivfpq_topk(spark, store, q, codebook, cbs, k=5).collect()))
    want = sorted(map(tuple, ivfpq_topk(spark, clean, q, codebook, cbs, k=5).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# Live-reader-safe compaction (VERDICT r7 #6): versioned store root +
# atomic pointer — the mart reader-hammer pattern applied to stores.
# ---------------------------------------------------------------------------


def _hammer_during(fn, probe, valid_states):
    """Run ``fn`` while a thread repeatedly calls ``probe`` and checks
    each result is EXACTLY one of ``valid_states`` (content-preserving
    maintenance: any mixed/partial layout would produce a result
    outside the set or raise). Returns the number of completed reads."""
    import threading

    stop = threading.Event()
    failures: list = []
    reads = [0]

    def hammer():
        while not stop.is_set():
            try:
                got = probe()
                assert got in valid_states, f"mixed-layout read: {got[:3]}..."
                reads[0] += 1
            except Exception as e:  # noqa: BLE001 — surface in main thread
                failures.append(e)
                return

    t = threading.Thread(target=hammer)
    t.start()
    try:
        fn()
    finally:
        stop.set()
        t.join()
    assert not failures, f"reader failed during maintenance: {failures[0]}"
    assert reads[0] > 0, "hammer thread never completed a read"
    return reads[0]


@pytest.mark.parametrize("fs_cls", ["LocalFS", "ObjectStoreSimFS"])
@pytest.mark.slow
def test_postings_store_live_compaction_reader_hammer(spark, tmp_path, fs_cls):
    """Probes through the versioned pointer must see a WHOLE postings
    store before, during, and after compaction — every hammered read
    equals the (content-preserving) expected result exactly. Runs over
    LocalFS and the non-atomic-rename ObjectStoreSimFS (the S3-style
    asymmetry: only the pointer put is atomic)."""
    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        postings_store_append_batch,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        compact_store_live,
        publish_store_version,
        store_live_path,
    )
    from bigdatapipelinepysparksqlserver_spark.sources import fs as fsmod

    fs = getattr(fsmod, fs_cls)()
    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    root = str(tmp_path / "vstore")

    # v1: a 3-batch batched store, built in staging then published
    staging = str(tmp_path / "seed")
    for b in range(3):
        postings_store_append_batch(
            docs.where(F.col("doc_id") % 3 == b), staging, batch_id=b
        )
    assert publish_store_version(root, staging, fs) == 1

    terms = ["spark", "hash", "window"]

    def probe():
        return [
            tuple(r)
            for r in bm25_from_store(
                spark, store_live_path(root, fs), terms, top_n=10
            ).collect()
        ]

    expected = probe()
    assert len(expected) == 10

    res = {}
    reads = _hammer_during(
        lambda: res.update(compact_store_live(spark, root, fs)),
        probe,
        [expected],
    )
    assert res["compacted"] and res["version"] == 2
    assert res["batches"] == ["batch=0", "batch=1", "batch=2"]
    assert reads > 0
    # post-compaction: flat layout, same content, pointer at v2
    live = store_live_path(root, fs)
    assert live.endswith("/v2")
    assert _batch_dirs(live) == []
    assert probe() == expected
    # no-op on the flat store publishes nothing
    again = compact_store_live(spark, root, fs)
    assert again == {
        "kind": "postings", "compacted": False, "batches": [], "version": 2,
    }


@pytest.mark.parametrize("fs_cls", ["LocalFS", "ObjectStoreSimFS"])
def test_ivf_store_live_compaction_reader_hammer(spark, tmp_path, fs_cls):
    """Same invariant for the IVF vector store: cell-pruned probes
    through the pointer never see a half-compacted layout."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivf_partitioned_topk,
        ivf_store_append_batch,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        compact_store_live,
        publish_store_version,
        store_live_path,
    )
    from bigdatapipelinepysparksqlserver_spark.sources import fs as fsmod

    fs = getattr(fsmod, fs_cls)()
    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings.select(
        "vec_id", "embedding"
    )
    codebook_df = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    cells = [(r.cell, list(r.centroid)) for r in codebook_df.collect()]
    root = str(tmp_path / "ivf_vstore")
    staging = str(tmp_path / "ivf_seed")
    for b in range(3):
        ivf_store_append_batch(
            emb.where(F.col("vec_id") % 3 == b), cells, staging, batch_id=b
        )
    publish_store_version(root, staging, fs)

    queries = emb.where(F.col("vec_id") < 6)

    def probe():
        return sorted(
            map(
                tuple,
                ivf_partitioned_topk(
                    spark, store_live_path(root, fs), queries, codebook_df,
                    n_probe=4, k=8,
                ).collect(),
            )
        )

    expected = probe()
    res = {}
    _hammer_during(
        lambda: res.update(compact_store_live(spark, root, fs)),
        probe,
        [expected],
    )
    assert res["kind"] == "ivf" and res["compacted"] and res["version"] == 2
    live = store_live_path(root, fs)
    assert _batch_dirs(live) == []
    assert probe() == expected


def test_publish_store_version_retains_and_gcs(spark, tmp_path):
    """retain=1: live + one previous version stay (in-flight readers),
    older versions are reaped; the pointer always names the newest."""
    import os

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        build_postings_store,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        publish_store_version,
        store_live_path,
    )

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    root = str(tmp_path / "gc_store")
    for i in range(3):
        staging = str(tmp_path / f"stage{i}")
        build_postings_store(docs, staging)
        assert publish_store_version(root, staging) == i + 1
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert dirs == ["v2", "v3"]
    assert store_live_path(root).endswith("/v3")


def test_edge_store_compaction_probe_equals_batched(spark, tmp_path):
    """Edge-store maintenance: two appended batches compact to the flat
    bucket layout; the probed edge relation is unchanged, every edge
    keeps its original bucket (src→bucket mapping survives), and the
    batch= level is gone."""
    import os

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        copurchase_edges,
        edge_store_append_batch,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        compact_store_batches,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    li = Catalog(spark, "/root/testdata/sf0.001").lineitem.select(
        "l_orderkey", "l_partkey"
    )
    store = str(tmp_path / "edges")
    edge_store_append_batch(
        li.where(F.col("l_orderkey") % 2 == 0), store, 0, buckets=8
    )
    edge_store_append_batch(
        li.where(F.col("l_orderkey") % 2 == 1), store, 1, buckets=8
    )
    before = {
        (r["src"], r["dst"], r["bucket"])
        for r in spark.read.option("basePath", store)
        .parquet(store + "/batch=*")
        .select("src", "dst", "bucket")
        .distinct()
        .collect()
    }

    out = compact_store_batches(spark, store)
    assert out["kind"] == "edges" and out["compacted"] is True
    assert sorted(out["batches"]) == ["batch=0", "batch=1"]
    names = os.listdir(store)
    assert not any(n.startswith("batch=") for n in names)
    assert any(n.startswith("bucket=") for n in names)

    after = {
        (r["src"], r["dst"], r["bucket"])
        for r in spark.read.parquet(store).select("src", "dst", "bucket").collect()
    }
    assert after == before
    want = {(r["src"], r["dst"]) for r in copurchase_edges(li).collect()}
    assert {(s, d) for s, d, _ in after} == want

    # flat store: re-running compaction is a no-op
    again = compact_store_batches(spark, store)
    assert again["compacted"] is False and again["kind"] in ("edges", "ivf")


def test_publish_gc_survives_crashed_publish_orphan(tmp_path):
    """A crashed publish (version dir renamed, pointer never swapped)
    must not poison the next publish's GC: the orphan is reaped, its
    number reused, and the GENUINE previous live version — the one
    concurrent readers may still be probing — stays within the retain
    window."""
    import os

    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        publish_store_version,
        store_live_path,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "store")

    def stage(tag):
        p = str(tmp_path / f"staging_{tag}")
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write(tag)
        return p

    assert publish_store_version(root, stage("a"), fs, retain=1) == 1
    assert publish_store_version(root, stage("b"), fs, retain=1) == 2
    # simulate a crash between rename and pointer swap: v3 exists,
    # pointer still names v2
    os.rename(stage("crashed"), os.path.join(root, "v3"))
    assert store_live_path(root, fs).endswith("/v2")

    v = publish_store_version(root, stage("c"), fs, retain=1)
    assert v == 3  # orphan reaped, number reused
    assert store_live_path(root, fs).endswith("/v3")
    names = sorted(n for n in os.listdir(root) if n.startswith("v"))
    # retain=1: the REAL previous live version v2 survives; v1 is gone;
    # the crashed orphan's content never became visible
    assert names == ["v2", "v3"]
    with open(os.path.join(root, "v3", "data.txt")) as f:
        assert f.read() == "c"
    with open(os.path.join(root, "v2", "data.txt")) as f:
        assert f.read() == "b"


def test_rollback_store_version_restores_previous_snapshot(tmp_path):
    """Rollback = atomic pointer swap to a retained version; the
    rolled-back-FROM version is a once-live snapshot readers may still
    be pinned to (shared protocol, ADVICE r9): the next publish
    allocates PAST it instead of reaping/renumbering over it, and it
    ages out of the retain window like any other snapshot."""
    import os

    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        publish_store_version,
        rollback_store_version,
        store_live_path,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "store")

    def stage(tag):
        p = str(tmp_path / f"staging_{tag}")
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write(tag)
        return p

    publish_store_version(root, stage("good"), fs, retain=1)
    publish_store_version(root, stage("bad"), fs, retain=1)
    assert store_live_path(root, fs).endswith("/v2")

    assert rollback_store_version(root, 1, fs) == 1
    with open(os.path.join(store_live_path(root, fs), "data.txt")) as f:
        assert f.read() == "good"

    # the next publish allocates PAST the survivor. Retention is the
    # UNION of the lineage tail (v1 — the version readers were on just
    # before this publish, live again since the rollback) and the id
    # window [current-retain, current] (v2 — the rolled-back-from
    # survivor): both stay, nothing a reader could be pinned to is
    # evicted
    publish_store_version(root, stage("fixed"), fs, retain=1)
    assert store_live_path(root, fs).endswith("/v3")
    with open(os.path.join(store_live_path(root, fs), "data.txt")) as f:
        assert f.read() == "fixed"
    assert sorted(
        n for n in os.listdir(root) if n.startswith("v")
    ) == ["v1", "v2", "v3"]
    with open(os.path.join(root, "v1", "data.txt")) as f:
        assert f.read() == "good"
    # ...and both age out once the window and lineage move past them
    publish_store_version(root, stage("next"), fs, retain=1)
    assert sorted(
        n for n in os.listdir(root) if n.startswith("v")
    ) == ["v3", "v4"]

    # beyond the retain window -> explicit error naming what exists
    with pytest.raises(FileNotFoundError):
        rollback_store_version(root, 9, fs)


def test_publish_refuses_to_reap_when_pointer_lost(tmp_path):
    """A missing/unreadable _CURRENT pointer with version dirs on disk
    (partial restore, sync tool skipping underscore files) must be a
    recoverable error, NOT a destructive reap of every snapshot as a
    'crashed-publish orphan'. Rollback re-points; publish then works."""
    import os

    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        STORE_POINTER,
        publish_store_version,
        rollback_store_version,
        store_live_path,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "store")

    def stage(tag):
        p = str(tmp_path / f"staging_{tag}")
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write(tag)
        return p

    publish_store_version(root, stage("v1data"), fs, retain=5)
    publish_store_version(root, stage("v2data"), fs, retain=5)
    # simulate the sync tool losing the underscore pointer file
    os.remove(os.path.join(root, STORE_POINTER))

    with pytest.raises(FileNotFoundError, match="refusing to reap"):
        publish_store_version(root, stage("v3data"), fs, retain=5)
    # both snapshots survived the refused publish
    assert sorted(n for n in os.listdir(root) if n.startswith("v")) == [
        "v1", "v2",
    ]

    # operator recovery path named in the error: re-point, then publish
    rollback_store_version(root, 2, fs)
    assert publish_store_version(root, stage("v3retry"), fs, retain=5) == 3
    with open(os.path.join(store_live_path(root, fs), "data.txt")) as f:
        assert f.read() == "v3retry"

    # a truly empty root (no versions, no pointer) still bootstraps v1
    root2 = str(tmp_path / "fresh")
    assert publish_store_version(root2, stage("boot"), fs) == 1


def test_batched_kind_detection_skips_empty_first_batch(tmp_path):
    """Kind detection must scan past an empty lowest-numbered batch
    directory (crashed append leaves batch=0 empty or _SUCCESS-only):
    an edge store whose batch=0 is empty is still 'edges', not 'ivf'."""
    import os

    from bigdatapipelinepysparksqlserver_spark.operators.stores import (
        _batched_store_kind,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.fs import LocalFS

    fs = LocalFS()
    root = str(tmp_path / "edgestore")
    os.makedirs(os.path.join(root, "batch=0"))
    open(os.path.join(root, "batch=0", "_SUCCESS"), "w").close()
    os.makedirs(os.path.join(root, "batch=1", "bucket=3"))
    batches = ["batch=0", "batch=1"]
    assert _batched_store_kind(fs, root, batches) == "edges"

    ivf = str(tmp_path / "ivfstore")
    os.makedirs(os.path.join(ivf, "batch=0"))
    os.makedirs(os.path.join(ivf, "batch=1", "cell=7"))
    assert _batched_store_kind(fs, ivf, batches) == "ivf"
