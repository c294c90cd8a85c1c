"""Batched-store compaction: merging the append-only stores' batch
levels back into one file set.

The growing stores (`ivf_store_append_batch` in operators/similarity.py
and `edge_store_append_batch` in operators/graph.py) trade write
amplification for append cheapness:
every daily batch adds a `batch=N` partition level, so after a year the
probe side lists 365 × the directories and opens 365 × the files for the
same logical rows — partition pruning still bounds WHAT is read, but the
file-listing overhead and per-file open cost grow with batch count, not
data. Compaction merges the batch levels back down on an explicit
maintenance schedule (weekly, or when batch count crosses a threshold),
exactly like the reference's full-reload path resets its incremental
state (reference README.md:62 — the rebuild is the compaction of last
resort; this one costs one shuffle instead of a re-tokenization).

Correctness contract (pytest-asserted, tests/test_store_compaction.py):
probe(compacted) ≡ probe(batched) ≡ probe(rebuild) — guaranteed because
the append contract already requires disjoint per-batch doc-ids, so
merging is pure recomposition of exact integers:

- postings rows: each (term, doc) lives in exactly one batch → union;
- doclens: disjoint ids → union;
- stats: one row = Σ per-batch (n_docs, total_dl) — the same sums the
  probe computes across batches at read time, precomputed;
- termstats: df per (bucket, term) = Σ per-batch dfs — ditto;
- IVF rows: each vector lives in exactly one batch → union (the cell
  assignment is a pure function of the shared codebook, unchanged).

Scale: compaction is one partition-discovery read + one partitioned
write per relation — postings re-shuffle on ``bucket`` (so each bucket
directory collapses to ~one file, restoring the term-sorted row-group
pruning the per-batch writes had within themselves but not across), the
rest are scan-and-rewrite. No driver-side rows.

The swap is directory-level: relations write to ``{path}.__compact__``,
then the store directory is swapped via the FS seam's ``rename_dir``.
Probes running CONCURRENTLY with the swap are out of contract for THIS
in-place form (maintenance-window artifact). For live readers, use the
versioned composition at the bottom of this module
(:func:`compact_store_live` + :func:`store_live_path` +
:func:`publish_store_version`): snapshots are immutable, compaction
reads the live version and publishes the next one through the
atomic-pointer seam (sources/fs.py), and the reader-hammer pytest
proves probes never see a mixed layout — on POSIX and on the
non-atomic-rename object-store simulation alike.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..sources.fs import LocalFS, SnapshotFS


def _is_batched(fs: SnapshotFS, path: str) -> bool:
    return fs.is_dir(path) and any(
        name.startswith("batch=") for name in fs.list_dir(path)
    )


def compact_store_batches(
    spark,
    path: str,
    fs: SnapshotFS | None = None,
) -> dict:
    """Merge a batched store's ``batch=N`` levels back to the FLAT
    layout its ``build_*`` writer produces. Detects the store kind from
    the layout: a ``postings/`` subdirectory means a postings store
    (four relations recomposed); top-level ``batch=N`` directories are
    an IVF vector store (``cell=C`` children, one relation) or a
    co-purchase edge store (``bucket=B`` children — distinct-union,
    original bucket values preserved so probe pruning survives).

    A flat (never-appended) store is a no-op — returns
    ``{"kind": ..., "compacted": False}``. After compaction the store
    is FLAT: a later ``*_append_batch`` must start a fresh batched
    store seeded from it (mixing flat files with ``batch=`` directories
    under one parquet root breaks partition discovery — the same
    either/or the append docstrings already contract).

    Returns ``{"kind", "compacted", "batches"}`` for observability.
    """
    fs = fs or LocalFS()
    if fs.is_dir(f"{path}/postings"):
        kind = "postings"
        batched = _is_batched(fs, f"{path}/postings")
        batches = (
            sorted(
                n for n in fs.list_dir(f"{path}/postings")
                if n.startswith("batch=")
            )
            if batched
            else []
        )
    elif fs.is_dir(path):
        batched = _is_batched(fs, path)
        batches = (
            sorted(n for n in fs.list_dir(path) if n.startswith("batch="))
            if batched
            else []
        )
        # disambiguate top-level batch=N stores by their partition axis:
        # cell=C children -> IVF vector store, bucket=B -> edge store
        kind = _batched_store_kind(fs, path, batches)
    else:
        raise ValueError(f"compact_store_batches: no store at {path}")
    if not batched:
        return {"kind": kind, "compacted": False, "batches": []}

    tmp = f"{path}.__compact__"
    if fs.is_dir(tmp):
        fs.rmtree(tmp)
    if kind == "postings":
        _compact_postings(spark, path, tmp)
    elif kind == "edges":
        _compact_edges(spark, path, tmp)
    else:
        _compact_ivf(spark, path, tmp)
    # directory-level swap: the half-written staging dir never aliases
    # the live store, and a crash before the final rename leaves the
    # original store intact (re-run compaction to finish)
    old = f"{path}.__old__"
    if fs.is_dir(old):
        fs.rmtree(old)
    fs.rename_dir(path, old)
    fs.rename_dir(tmp, path)
    fs.rmtree(old)
    return {"kind": kind, "compacted": True, "batches": batches}


def _batched_store_kind(fs: SnapshotFS, rel: str, batches: list[str]) -> str:
    """Classify a top-level ``batch=N`` store by its partition axis
    (``bucket=`` children -> edge store, ``cell=`` -> IVF), scanning
    batches until one yields an axis child — a crashed append can
    leave the lowest-numbered batch directory empty (or _SUCCESS-only),
    so probing only ``batches[0]`` would misdetect an edge store as
    IVF and fail mid-compaction on the missing ``cell`` column."""
    for b in batches:
        children = fs.list_dir(f"{rel}/{b}")
        if any(n.startswith("bucket=") for n in children):
            return "edges"
        if any(n.startswith("cell=") for n in children):
            return "ivf"
    return "ivf"


def _compact_postings(spark, path: str, tmp: str) -> None:
    """Recompose the four postings-store relations flat (see module
    docstring for why each recomposition is exact)."""
    postings = spark.read.parquet(f"{path}/postings").drop("batch")
    # one shuffle keyed by the bucket partition column: each bucket
    # directory collapses to ~one file, and the within-file term sort is
    # restored ACROSS the merged batches (row-group min/max pruning on
    # ``term`` sees one sorted run, not N interleaved ones)
    (
        postings.repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{tmp}/postings")
    )
    spark.read.parquet(f"{path}/doclens").drop("batch").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/doclens")
    # stats: Σ per-batch exact integers → the single row build_ writes
    (
        spark.read.parquet(f"{path}/stats")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{tmp}/stats")
    )
    (
        spark.read.parquet(f"{path}/termstats")
        .groupBy("bucket", "term")
        .agg(F.sum("df").cast("long").alias("df"))
        .select("term", "df", "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{tmp}/termstats")
    )


def _compact_ivf(spark, path: str, tmp: str) -> None:
    """Flatten ``batch=N/cell=C`` to ``cell=C`` — cell assignments are a
    pure function of the shared codebook, so rows just re-home."""
    (
        spark.read.parquet(path)
        .drop("batch")
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )


def _compact_edges(spark, path: str, tmp: str) -> None:
    """Flatten ``batch=N/bucket=B`` to the flat ``bucket=B`` layout:
    distinct-union across batches (exact under the order-complete
    append contract — duplicate edges across batches collapse, nothing
    else changes). Each edge KEEPS its original bucket value (bucket is
    a pure function of src, identical across batches), so the store's
    src→bucket mapping — which probes rely on for pruning — survives
    compaction bit-for-bit; no modulus needs to be known or inferred."""
    (
        spark.read.option("basePath", path)
        .parquet(f"{path}/batch=*")
        .select("src", "dst", "bucket")
        .distinct()
        .repartition(F.col("bucket"))
        .sortWithinPartitions("src")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )


# ---------------------------------------------------------------------------
# Live-reader-safe maintenance (VERDICT r7 #6): the versioned-pointer
# composition the compact_store_batches docstring points at. Store
# snapshots live at {root}/v{N}; an atomic pointer ({root}/_CURRENT,
# the SnapshotFS.set_pointer contract — the SAME primitive the mart
# publish rests on) names the live one. Compaction READS the live
# snapshot and WRITES a staging dir, so readers are never exposed to a
# half-swapped layout: they resolve the pointer, see either v{N}
# (whole, untouched) or v{N+1} (whole, published), never a mix — the
# reader-hammer pytest (tests/test_store_compaction.py) proves it over
# LocalFS AND the non-atomic-rename ObjectStoreSimFS.
#
# Appends stay in-place on the live snapshot (copying a 100 TB store
# per daily batch would defeat the append design): they are ADDITIVE —
# existing bytes never move — so a probe concurrent with an append
# risks only bounded staleness (a partially-listed new batch=K), never
# a mixed layout of OLD data; deployments needing atomic append
# visibility publish a version per append through the same helper at
# copy cost.
# ---------------------------------------------------------------------------

STORE_POINTER = "_CURRENT"


def store_live_path(root: str, fs: SnapshotFS | None = None) -> str:
    """Resolve the pointer to the live immutable store snapshot."""
    fs = fs or LocalFS()
    name = fs.read_pointer(f"{root}/{STORE_POINTER}")
    if name is None:
        raise FileNotFoundError(f"versioned store {root} has no live version")
    return f"{root}/{name}"


def _store_protocol(
    root: str, fs: SnapshotFS | None, retain: int = 1, grace_seconds: float = 0.0
):
    from ..sources.pointer import VersionedPointerPublisher

    return VersionedPointerPublisher(
        fs,
        root,
        retain=retain,
        grace_seconds=grace_seconds,
        what="versioned store",
        recover_hint="e.g. rollback_store_version(root, <max version>)",
    )


def publish_store_version(
    root: str,
    staging: str,
    fs: SnapshotFS | None = None,
    retain: int = 1,
    grace_seconds: float = 0.0,
) -> int:
    """Publish ``staging`` as the next store version: claim {root}/v{N}
    (exclusive create), rename staging into it (NOT required atomic —
    no reader can resolve it yet), conditionally swap the pointer, then
    GC versions older than ``retain`` behind the new live one.

    The lifecycle — pointer-derived numbering, lost-pointer refusal,
    age-gated crashed-orphan reaping, rollback survivors, the CAS
    commit that makes a concurrent publish lose EXPLICITLY
    (:class:`~..sources.pointer.ConcurrentPublishError`) instead of
    silently clobbering — is the shared
    :class:`~..sources.pointer.VersionedPointerPublisher` protocol;
    see that module for the full argument. ``grace_seconds`` is the
    multi-writer in-flight window (0 = single-writer mode, crashed
    orphans reaped immediately and their numbers reused).
    Returns the published version number."""
    fs = fs or LocalFS()
    if not fs.is_dir(staging):
        raise FileNotFoundError(f"no staging store at {staging}")
    fs.makedirs(root)
    pub = _store_protocol(root, fs, retain, grace_seconds)
    nxt, observed = pub.begin()
    try:
        fs.rename_dir(staging, f"{root}/v{nxt}")
    except Exception:
        pub.abort(nxt)
        raise
    return pub.commit(nxt, observed)


def compact_store_live(
    spark, root: str, fs: SnapshotFS | None = None, retain: int = 1
) -> dict:
    """Live-reader-safe :func:`compact_store_batches`: compact the
    LIVE snapshot of a versioned store into a staging dir (the live
    directory is only ever READ) and publish the result as the next
    version. Concurrent probes resolving through
    :func:`store_live_path` see a whole snapshot before, during, and
    after — the pointer swap is the only visibility event.

    Returns ``{"kind", "compacted", "batches", "version"}`` (version =
    the live version after the call; unchanged when the store was
    already flat — a no-op publishes nothing)."""
    fs = fs or LocalFS()
    live = store_live_path(root, fs)
    if fs.is_dir(f"{live}/postings"):
        kind = "postings"
        rel = f"{live}/postings"
    elif fs.is_dir(live):
        kind = "ivf"
        rel = live
    else:
        raise ValueError(f"compact_store_live: no store at {live}")
    batched = _is_batched(fs, rel)
    cur = int(live.rsplit("/v", 1)[1])
    if not batched:
        return {"kind": kind, "compacted": False, "batches": [], "version": cur}
    batches = sorted(n for n in fs.list_dir(rel) if n.startswith("batch="))
    # same axis disambiguation as compact_store_batches: a top-level
    # batched store with bucket= children is the edge store, not IVF
    if kind == "ivf":
        kind = _batched_store_kind(fs, rel, batches)
    staging = f"{root}/__compact_staging__"
    if fs.is_dir(staging):
        fs.rmtree(staging)
    if kind == "postings":
        _compact_postings(spark, live, staging)
    elif kind == "edges":
        _compact_edges(spark, live, staging)
    else:
        _compact_ivf(spark, live, staging)
    v = publish_store_version(root, staging, fs, retain)
    return {"kind": kind, "compacted": True, "batches": batches, "version": v}


def rollback_store_version(
    root: str, version: int, fs: SnapshotFS | None = None
) -> int:
    """Point the live pointer BACK at a retained version — the
    operational undo for a bad publish (compaction that regressed a
    probe, an append batch that poisoned stats). Pure pointer swap:
    atomic, readers see whole snapshots before and after, nothing is
    deleted.

    Only a version that EXISTS on disk can be rolled back to; the GC
    retain window (``publish_store_version(retain=N)``) bounds how far
    back that is. The rolled-back-FROM version is recorded as a
    retained survivor (shared protocol, ADVICE r9): the next publish
    allocates past it instead of reaping a snapshot an in-flight
    reader may still be pinned to. Returns the version rolled back to.
    """
    return _store_protocol(root, fs).rollback(version)
