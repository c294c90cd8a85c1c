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


def test_ivf_store_compaction_probe_equivalence(spark, tmp_path, executed_plan):
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
    plan = executed_plan(probe)
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
