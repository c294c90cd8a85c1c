"""Connected components (duplicate clustering): hand-built graphs plus a
property test against a brute-force union-find reference, with and
without the large/small-star rounds that follow the per-partition local
contraction."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from hypothesis import given, settings, strategies as st

from bigdatapipelinepysparksqlserver_spark.operators import dedup
from bigdatapipelinepysparksqlserver_spark.operators.dedup import (
    connected_components_star,
)

ALGOS = [connected_components_star]


@contextmanager
def _star_rounds(spark, coalesce: bool = True):
    """Count the large/small-star rounds ``connected_components_star``
    runs (each round checkpoints through ``tracked_local_checkpoint``;
    the contracted edges go through ``scoped_local_checkpoint``, which
    this does not count). With ``coalesce=False`` AQE keeps every shuffle
    partition, so a small graph's edges stay spread over several
    partitions and the local contraction cannot finish it."""
    rounds = []
    real = dedup.tracked_local_checkpoint

    def counting(df):
        rounds.append(1)
        return real(df)

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    dedup.tracked_local_checkpoint = counting
    spark.conf.set(key, str(coalesce).lower())
    try:
        yield rounds
    finally:
        dedup.tracked_local_checkpoint = real
        spark.conf.set(key, prev)


def _components_bruteforce(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("algo", ALGOS, ids=["star"])
def test_chain_and_islands(spark, algo):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    got = {
        r.doc_id: r.component
        for r in algo(spark.createDataFrame(edges, "id1 long, id2 long")).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@pytest.mark.parametrize("algo", ALGOS, ids=["star"])
def test_long_chain_converges(spark, algo):
    # a path graph has maximal diameter for its size, the case star
    # contraction exists to collapse in O(log n) rounds; its edges are
    # spread over four partitions, so the rounds must finish what the
    # local contraction leaves
    n = 12
    edges = [(i, i + 1) for i in range(n)]
    with _star_rounds(spark, coalesce=False) as rounds:
        got = {
            r.doc_id: r.component
            for r in algo(spark.createDataFrame(edges, "id1 long, id2 long")).collect()
        }
    assert got == {i: 0 for i in range(n + 1)}
    assert len(rounds) >= 1


def test_partition_local_components_need_no_star_round(spark):
    """When AQE coalesces a small pair list into one partition, every
    component is local: the union-find contraction alone returns exact
    labels, no star round runs, and the id type passes through."""
    import pyspark.sql.types as T

    chain = [(i, i + 1) for i in range(12)]  # diameter 12
    clique = [(a, b) for a in (40, 41, 42, 43) for b in (40, 41, 42, 43) if a < b]
    wedge = [(52, 50), (52, 51)]  # roles disjoint, still not a star
    edges = chain + clique + wedge + [(7, 3)]  # a chord, reversed
    df = spark.createDataFrame(edges, "id1 int, id2 int")
    with _star_rounds(spark) as rounds:
        out = connected_components_star(df)
        got = {r.doc_id: r.component for r in out.collect()}
    assert got == _components_bruteforce(edges)
    assert rounds == []
    assert [f.dataType for f in out.schema.fields] == [T.IntegerType()] * 2


def test_star_handles_duplicate_and_reversed_edges(spark):
    edges = [(5, 3), (3, 5), (5, 3), (7, 5), (2, 9)]
    got = {
        r.doc_id: r.component
        for r in connected_components_star(
            spark.createDataFrame(edges, "id1 long, id2 long")
        ).collect()
    }
    assert got == {3: 3, 5: 3, 7: 3, 2: 2, 9: 2}


@settings(max_examples=5, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.slow
def test_components_equal_union_find(spark, edges):
    # a fixed 16-edge chain beside the random graph, over four
    # uncoalesced partitions, so every example runs star rounds
    edges = edges + [(i, i + 1) for i in range(100, 116)]
    with _star_rounds(spark, coalesce=False) as rounds:
        got = {
            r.doc_id: r.component
            for r in connected_components_star(
                spark.createDataFrame(edges, "id1 long, id2 long")
            ).collect()
        }
    assert got == _components_bruteforce(edges)
    assert len(rounds) >= 1


@pytest.mark.slow
def test_star_contraction_frees_intermediate_round_checkpoints(spark):
    """The iterative loop must not strand one checkpoint per round: after
    running on a long chain (many contraction rounds), the persistent-RDD
    count may exceed the baseline only by the plan's LIVE inputs
    (contracted edges, node list, final round — ≤3), and release_caches()
    returns it to baseline."""
    from bigdatapipelinepysparksqlserver_spark.caching import release_caches

    def n_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_caches()
    spark.catalog.clearCache()
    base = n_cached()

    # one 200-node chain over four uncoalesced partitions: the local
    # contraction leaves pieces that only star rounds can join
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id1 long, id2 long"
    )
    with _star_rounds(spark, coalesce=False) as rounds:
        out = connected_components_star(edges)
        rows = out.collect()
    assert len(rounds) >= 2  # so an intermediate round exists to free
    assert {r.component for r in rows} == {0}
    assert len(rows) == 201
    live = n_cached() - base
    assert 0 < live <= 3, f"stranded round checkpoints: {live} live caches"
    release_caches()
    assert n_cached() == base


def test_skew_report_identifies_pathological_key(spark):
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.skew import skew_report

    # 9000 rows on one key, 100 spread over 100 keys
    df = spark.range(9000).select(F.lit(7).alias("k")).unionAll(
        spark.range(100).select((F.col("id") + 100).alias("k"))
    )
    rows = skew_report(df, ["k"], top_n=3, target_rows_per_task=1000).collect()
    top = rows[0]
    assert top.k == 7 and top.key_rows == 9000
    assert abs(top.share - 9000 / 9100) < 1e-6
    # mean rows/key = 9100/101; 9000 vs mean ≈ 99.9× — way past AQE's 5×
    assert top.skew_vs_mean > 50
    assert top.salt_buckets == 9  # ceil(9000/1000)
    # non-skewed keys need no salting
    assert rows[1].key_rows == 1 and rows[1].salt_buckets == 1


def test_bm25_search_ranking_and_exclusion(spark):
    import math

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat cat dog x"),
            (2, "cat x y z"),
            (3, "dog"),
            (4, "x y"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_search(docs, ["cat", "dog"], top_n=10).collect()
    got = {r.doc_id: r for r in rows}
    assert 4 not in got  # no probe term -> not a candidate
    assert [r.doc_id for r in rows][0] == 1  # both terms, highest tf

    # mirror the formula exactly for doc 1
    n, avgdl = 4, (4 + 4 + 1 + 2) / 4.0
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))  # df=2 for both terms
    k1, b = 1.2, 0.75

    def contrib(tf, dl):
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))

    expect = round(contrib(2, 4) + contrib(1, 4), 6)
    assert abs(got[1].score - expect) < 1e-9
    assert (got[1].tf_cat, got[1].tf_dog, got[1].dl) == (2, 1, 4)
    # single-term docs rank by length normalization: doc3 (dl=1) beats doc2 (dl=4)
    ids = [r.doc_id for r in rows]
    assert ids.index(3) < ids.index(2)


def test_bm25_store_probe_equals_corpus_scan(spark, tmp_path, executed_plan):
    """The inverted-postings store probe must reproduce the (oracle-
    backed) corpus-scan BM25 exactly, and read only the probe terms'
    bucket partitions."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        bm25_search,
        build_postings_store,
    )
    from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    store = str(tmp_path / "postings_store")
    build_postings_store(docs, store)
    terms = ["spark", "hash", "window"]

    scan = bm25_search(docs, terms, top_n=10)
    probe = bm25_from_store(spark, store, terms, top_n=10)
    got_scan = [
        (r.doc_id, r.dl, r.tf_spark, r.tf_hash, r.tf_window, r.score)
        for r in scan.collect()
    ]
    got_probe = [
        (r.id, r.dl, int(r.tf_spark), int(r.tf_hash), int(r.tf_window), r.score)
        for r in probe.collect()
    ]
    assert got_scan == got_probe
    assert len(got_scan) == 10

    # partition pruning: the postings scan carries the bucket IN (...)
    # partition filter — at most one bucket per probe term
    plan = executed_plan(probe)
    assert "PartitionFilters" in plan and "bucket" in plan


def test_bm25_rejects_non_token_terms(spark):
    """Probe terms double as tf_<term> column suffixes and equality
    literals against lowercased tokens — anything that isn't a single
    lowercase token must fail LOUDLY up front, not as a deep
    AnalysisException ('3.5' → struct-access parse) or a silent tf=0
    ('Cat' never matches lowered tokens)."""
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_search,
    )

    docs = spark.createDataFrame([(1, "cat dog")], "doc_id long, text string")
    for bad in (["3.5"], ["Cat"], ["a b"], [""], ["ok", "not-ok"]):
        with pytest.raises(ValueError, match="tokenize/normalize"):
            bm25_search(docs, bad)
    with pytest.raises(ValueError, match="empty query_terms"):
        bm25_search(docs, [])
    with pytest.raises(ValueError, match="plain identifier"):
        bm25_search(docs, ["cat"], text_col="text; drop")


def test_store_path_sweeps_dead_process_siblings(tmp_path, monkeypatch):
    """Each process-scoped store path request garbage-collects siblings
    owned by DEAD pids and leaves live ones alone — bounding the
    tempdir footprint to the set of live harnesses (r5 advice: the
    per-pid stores used to accumulate forever)."""
    import os
    import tempfile

    from bigdatapipelinepysparksqlserver_spark.queries.storepaths import (
        process_scoped_store_path,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    uid = getattr(os, "getuid", lambda: 0)()
    root = tmp_path / f"bdppss_teststore_u{uid}"
    root.mkdir()
    dead = root / "sf0.01_abcdef1234_p999999999"  # pid can't exist (> pid_max)
    dead.mkdir()
    (dead / "part-0.parquet").write_bytes(b"x")
    live = root / f"sf0.01_abcdef1234_p{os.getpid()}"
    live.mkdir()
    unrelated = root / "not_a_store_dir"
    unrelated.mkdir()

    path = process_scoped_store_path("teststore", "/root/testdata/sf0.01")
    assert not dead.exists()
    assert live.exists() and unrelated.exists()
    assert path.startswith(str(root))
    assert path.endswith(f"_p{os.getpid()}")


def test_postings_store_df_guard_bounds_stopword_probe(spark, tmp_path, executed_plan):
    """Skew guard: a term present in EVERY doc (corpus-sized postings —
    the one unbounded object in a term-bucketed store) is dropped
    before the postings scan when df > max_df_ratio·N: the pushed
    term IN (...) predicate excludes it, probe ≡ guarded scan holds,
    and an all-stopword probe raises instead of silently scanning."""
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        bm25_search,
        build_postings_store,
    )

    rows = [(i, f"stopword unique{i} " + ("cat " if i % 5 == 0 else "dog ")) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "guard_store")
    build_postings_store(docs, store)

    probe = bm25_from_store(
        spark, store, ["stopword", "cat"], top_n=10, max_df_ratio=0.5
    )
    scan = bm25_search(
        docs, ["stopword", "cat"], top_n=10, max_df_ratio=0.5
    )
    got = [(r.id, r.dl, int(r.tf_stopword), int(r.tf_cat), r.score) for r in probe.collect()]
    want = [(r.doc_id, r.dl, r.tf_stopword, r.tf_cat, r.score) for r in scan.collect()]
    assert got == want and len(got) == 10
    assert all(t[2] == 0 for t in got)  # dropped term reports tf=0
    assert all(t[3] > 0 for t in got)   # candidates come from kept term only

    # the postings FileScan's pushed predicate must carry the kept term
    # and NOT the stopword (its postings are never read)
    import re

    plan = executed_plan(probe)
    scan_lines = [
        ln
        for ln in plan.splitlines()
        # identify the postings relation by its ReadSchema (Location
        # paths are truncated in deep tmp dirs, and the pytest tmp dir
        # NAME contains "postings", so path matching is unreliable)
        if "FileScan" in ln
        and "PushedFilters" in ln
        and "ReadSchema: struct<term:string" in ln
    ]
    assert scan_lines, plan
    for ln in scan_lines:
        pushed = re.search(r"PushedFilters: \[[^\]]*\]", ln).group(0)
        assert "cat" in pushed and "stopword" not in pushed, pushed

    with pytest.raises(ValueError, match="every probe term exceeds"):
        bm25_from_store(spark, store, ["stopword"], max_df_ratio=0.5)
    with pytest.raises(ValueError, match="every probe term exceeds"):
        bm25_search(docs, ["stopword"], max_df_ratio=0.5)


def test_rrf_hybrid_fusion_semantics(spark):
    """RRF contract on a hand-built corpus: a doc ranked in BOTH legs
    outscores single-leg docs; single-leg docs carry a null rank for
    the missing leg; the fused score is exactly 1/(k+lex) + 1/(k+vec)."""
    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        rrf_hybrid_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark window functions and spark shuffles"),  # lexical hit
            (2, "gardening tips for quiet winter mornings"),   # neither
            (3, "spark stream processing"),                    # both legs
            (4, "rivers and harbors"),                         # vector-only hit
        ],
        "doc_id long, text string",
    )

    def vec(axis):
        v = [0.0] * 8
        v[axis] = 1.0
        return v

    q = vec(0)
    vectors = spark.createDataFrame(
        [(1, vec(5)), (2, vec(6)), (3, q),
         (4, [0.9, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.3])],
        "vec_id long, embedding array<double>",
    )
    out = rrf_hybrid_search(
        docs, vectors, ["spark", "stream"], q, top_lex=2, top_vec=2, top_n=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # doc 3: lexical rank (contains both terms) + vector rank 1 → top fused
    assert out[0]["doc_id"] == 3
    assert by_id[3]["vec_rank"] == 1 and by_id[3]["lex_rank"] is not None
    # doc 4: vector-only → null lex_rank; doc 1: lexical-only → null vec_rank
    assert by_id[4]["lex_rank"] is None and by_id[4]["vec_rank"] == 2
    assert by_id[1]["vec_rank"] is None and by_id[1]["lex_rank"] is not None
    # doc 2 appears in neither leg
    assert 2 not in by_id
    # exact fused arithmetic
    for r in out:
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (60 + r["lex_rank"])
        if r["vec_rank"] is not None:
            want += 1.0 / (60 + r["vec_rank"])
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9


def test_pagerank_fixed_point_properties(spark):
    """Integer PageRank contracts on a hand graph: mass conservation
    within floor slack, hub outranks leaves, layout-independent and
    deterministic, star center gets the max rank."""
    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank,
    )

    # star: 1 is the center; undirected -> both directions
    und = [(1, 2), (1, 3), (1, 4), (2, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(edges, iters=3).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == max(got.values())
    assert got[4] == min(got.values())          # leaf with one neighbor
    assert got[2] == got[3]                     # symmetric nodes tie
    # total mass within floor-division slack of SCALE
    slack = 200 * len(got)
    assert abs(sum(got.values()) - PAGERANK_SCALE) <= slack
    again = {
        r.node: r.rank
        for r in pagerank(edges.repartition(7), iters=3).collect()
    }
    assert again == got


def test_triangle_counts_bruteforce_and_guard(spark):
    """Per-node triangle counts vs itertools on a hand-built graph
    (shared edges between triangles, a square with one diagonal, an
    isolated edge); shrunken wedge budget fails fast naming the scale
    path."""
    import itertools

    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        WedgeBudgetExceeded,
        triangle_counts,
    )

    # triangle 1-2-3; square 3-4-5-6 with diagonal 3-5 (triangles
    # 3-4-5 and 3-5-6); isolated edge 7-8
    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (3, 6), (3, 5), (7, 8)]
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for trio in itertools.combinations(sorted(adj), 3):
        a, b, c = trio
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in trio:
                want[n] = want.get(n, 0) + 1

    df = spark.createDataFrame(und, "a long, b long")
    got = {
        r["node"]: r["tri_count"]
        for r in triangle_counts(df, wedge_budget=10_000).collect()
    }
    assert got == want

    with pytest.raises(WedgeBudgetExceeded, match="degree-ordered"):
        triangle_counts(df, wedge_budget=1)


def test_triangle_count_estimate_identity_and_corridor(spark):
    """DOULION estimator contracts: (a) at p = 1 (threshold = full
    60-bit space, inv_p3 = 1) the estimate IS the exact count on the
    hand-built graph; (b) at the registered p = 1/4 on a dense random
    graph the estimate lands in a generous corridor around the exact
    truth and sampled_edges ≈ |E|/4 (binomial, deterministic here)."""
    import itertools
    import random

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        triangle_count_estimate,
        triangle_counts,
    )

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (3, 6), (3, 5), (7, 8)]
    df = spark.createDataFrame(und, "a long, b long")
    r = triangle_count_estimate(df, threshold=1 << 60, inv_p3=1).collect()[0]
    assert (r.sampled_edges, r.sampled_triangles, r.est_triangles) == (9, 3, 3)

    # dense Erdős–Rényi-ish graph: 60 nodes, p≈0.5 → thousands of
    # triangles, so the p=1/4 estimate concentrates
    rng = random.Random(42)
    edges = [
        (a, b)
        for a, b in itertools.combinations(range(60), 2)
        if rng.random() < 0.5
    ]
    g = spark.createDataFrame(edges, "a long, b long")
    exact = (
        triangle_counts(g, wedge_budget=10_000_000)
        .agg(F.expr("sum(tri_count) div 3").alias("t"))
        .collect()[0]["t"]
    )
    est = triangle_count_estimate(g, wedge_budget=10_000_000).collect()[0]
    assert est.sampled_edges > 0 and est.sampled_triangles > 0
    # md5-gate sampling is deterministic: the corridor is a fixed fact
    # of seed 42, asserted loose enough (±50 %) to survive estimator-
    # preserving refactors but tight enough to catch a broken 1/p³
    assert 0.5 * exact <= est.est_triangles <= 1.5 * exact
    assert 0.15 * len(edges) <= est.sampled_edges <= 0.35 * len(edges)


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: after 3 synchronous
    rounds each clique converges to its min node id; the bridge
    endpoints stay with their own cliques (each has 3 in-clique
    neighbors vs 1 bridge neighbor). Tie-break: round 1 every neighbor
    label is distinct, so the SMALLEST neighbor id wins."""
    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        label_propagation,
    )

    cliq1 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    cliq2 = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a != b]
    bridge = [(4, 10), (10, 4)]
    edges = spark.createDataFrame(cliq1 + cliq2 + bridge, "src long, dst long")
    got = {r["node"]: r["lbl"] for r in label_propagation(edges, iters=3).collect()}
    # clique 1: everyone's smallest NEIGHBOR: node 1 -> 2, others -> 1;
    # round 2 pulls all of clique 1 to label 1 (mode among {2,1,1} etc.)
    assert all(got[n] == 1 for n in (1, 2, 3, 4)), got
    # clique 2: node 10's neighbors include 4, but labels 10..13 majority
    assert all(got[n] == 10 for n in (10, 11, 12, 13)), got


def test_edge_store_probe_equals_rebuild_and_prunes(spark, tmp_path, executed_plan):
    """Stored-path contract for the graph family: (1) PageRank over the
    store equals PageRank over the inline edge relation exactly;
    (2) a single-source neighborhood probe scans ONLY the source's
    bucket partition (PartitionFilters pruning)."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        pagerank,
        read_edge_store,
        write_edge_store,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(1, 9) if (a + b) % 3 == 0 and a != b],
        "src long, dst long",
    )
    store = str(tmp_path / "edges")
    write_edge_store(edges, store, buckets=8)

    inline = {
        (r["node"], r["rank"]) for r in pagerank(edges, iters=3).collect()
    }
    stored_edges = read_edge_store(spark, store).select("src", "dst")
    stored = {
        (r["node"], r["rank"])
        for r in pagerank(stored_edges, iters=3).collect()
    }
    assert stored == inline

    probe = read_edge_store(spark, store).where(
        (F.col("bucket") == 5 % 8) & (F.col("src") == 5)
    )
    plan = executed_plan(probe)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters")[1][:160]
    assert "bucket" in seg
    got = {(r["src"], r["dst"]) for r in probe.collect()}
    assert got == {(5, b) for b in range(1, 9) if (5 + b) % 3 == 0 and b != 5}


def test_triangle_node_estimates_identity_and_corridor(spark):
    """Per-node wedge-sampled estimator (VERDICT r8 #3): (a) at p = 1
    (inv_p2 = 1) the per-node estimates ARE the exact counts; (b) at
    the registered p = 1/4 each dense node's estimate lands in a
    corridor around its exact count and the global identity
    Σ sampled/3 · 16 is an unbiased estimate of the total; (c) the
    wedge budget guards the SAMPLED space."""
    import itertools
    import random

    import pyspark.sql.functions as F
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.graph import (
        WedgeBudgetExceeded,
        triangle_counts,
        triangle_node_estimates,
    )

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (3, 6), (3, 5), (7, 8)]
    df = spark.createDataFrame(und, "a long, b long")
    exact = {
        r["node"]: r["tri_count"]
        for r in triangle_counts(df, wedge_budget=10_000).collect()
    }
    got = {
        r["node"]: r["est_tri_count"]
        for r in triangle_node_estimates(df, threshold=1 << 60, inv_p2=1).collect()
    }
    assert got == exact

    rng = random.Random(42)
    edges = [
        (a, b)
        for a, b in itertools.combinations(range(60), 2)
        if rng.random() < 0.5
    ]
    g = spark.createDataFrame(edges, "a long, b long")
    exact_nodes = {
        r["node"]: r["tri_count"]
        for r in triangle_counts(g, wedge_budget=10_000_000).collect()
    }
    est_rows = triangle_node_estimates(g, wedge_budget=10_000_000).collect()
    est_nodes = {r["node"]: r["est_tri_count"] for r in est_rows}
    # per-node corridor on the densest 10 nodes (deterministic md5
    # sample → fixed facts of seed 42). Per-node rel-std at p = 1/4 is
    # ~sqrt((1-p²)/(p²·T_v)) ≈ 0.24 here, so the corridor admits ~3σ
    # tails while still catching a wrong scale factor (1/p³ = 64
    # would land 4× high) or a broken closure join (≈ 0)
    top = sorted(exact_nodes, key=lambda n: -exact_nodes[n])[:10]
    for n in top:
        assert 0.3 * exact_nodes[n] <= est_nodes.get(n, 0) <= 1.9 * exact_nodes[n]
    # global identity: per-node sum/3 is the global sampled count
    tot_sampled = sum(r["sampled_tri_count"] for r in est_rows)
    assert tot_sampled % 3 == 0
    exact_total = sum(exact_nodes.values()) // 3
    assert 0.5 * exact_total <= (tot_sampled // 3) * 16 <= 1.5 * exact_total

    with pytest.raises(WedgeBudgetExceeded, match="sampling threshold"):
        triangle_node_estimates(g, wedge_budget=1)
