"""Similarity operators: exact vs approximate consistency."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
    brute_force_topk,
    ivf_codebook_topk,
    lsh_topk,
    train_ivf_codebook,
)
from bigdatapipelinepysparksqlserver_spark.sources.catalog import Catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return Catalog(spark, SF).embeddings


def test_brute_force_topk_properties(spark, emb):
    q = emb.where(F.col("vec_id") < 4)
    out = brute_force_topk(emb, q, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for qid, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)  # ranked by similarity
        assert all(r.neighbor_id != qid for r in rows)   # no self-match


@pytest.mark.slow
def test_approximate_results_are_subset_quality(spark, emb):
    """Every approximate hit must carry the TRUE cosine (exact re-rank),
    so approx results are always a subset of the exact score space."""
    q = emb.where(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, q, k=500).collect()
    }
    codebook = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    trained = train_ivf_codebook(emb, n_centroids=8)
    for approx_df in (
        lsh_topk(emb, q, dim=64, k=5, bits=4),
        ivf_codebook_topk(emb, q, trained, n_probe=3, k=5),
        ivf_codebook_topk(emb, q, codebook, n_probe=3, k=5),
    ):
        for r in approx_df.collect():
            assert exact[(r.query_id, r.neighbor_id)] == r.cosine


@pytest.mark.slow
def test_ivf_deterministic(spark, emb):
    """Seeded KMeans training plus the codebook search is repeatable:
    two independent train-then-search runs return identical rows."""
    q = emb.where(F.col("vec_id") < 3)

    def train_then_search():
        codebook = train_ivf_codebook(emb, n_centroids=8)
        return sorted(
            map(str, ivf_codebook_topk(emb, q, codebook, n_probe=2, k=5).collect())
        )

    assert train_then_search() == train_then_search()


@pytest.mark.slow
def test_multi_table_lsh_recall_floor(spark, emb):
    """Amplification regression guard: 4-table LSH must beat the
    single-table recall collapse (0.125 @ bits=4) by a wide margin.
    Floor set below the measured 0.39 to absorb data drift, high enough
    to catch a plane/table regression."""
    q = emb.where(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, q, dim=64, k=10, bits=4, tables=4).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.25, f"multi-table LSH recall collapsed: {recall:.3f}"


def test_recommended_bits_policy():
    """bits↔N sizing policy regression anchor (BASELINE.md, sf1
    rehearsal): 20 k vectors → 8 bits, the measured sweet spot (45.6 s
    at 4 bits vs 5.4 s at 8, 99.6 % pair retention). Monotone in N,
    clamped at both ends, and invariant to proportional scaling of
    (N, target_bucket)."""
    import pytest as _pytest

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        recommended_bits,
    )

    assert recommended_bits(20_000) == 8          # the measured anchor
    assert recommended_bits(80) == 4              # floor clamp (N == bucket)
    assert recommended_bits(10) == 4
    assert recommended_bits(10**12) == 24         # ceiling clamp
    # monotone nondecreasing in N
    prev = 0
    for n in (100, 1_000, 10_000, 100_000, 10**6, 10**9):
        b = recommended_bits(n)
        assert b >= prev
        prev = b
    # 10× corpus with 10× target bucket keeps bits (occupancy-invariant)
    assert recommended_bits(200_000, target_bucket=800) == recommended_bits(20_000)
    with _pytest.raises(ValueError):
        recommended_bits(0)
    with _pytest.raises(ValueError):
        recommended_bits(100, target_bucket=0)


def test_recommended_cells_policy():
    """IVF cell-count sizing: ~sqrt(N) rounded to a power of two,
    clamped — with the sf1 measurement as the regime anchor (see
    BASELINE.md r5 IVF-store note)."""
    import pytest as _pytest

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        recommended_cells,
    )

    assert recommended_cells(20_000) == 128          # sqrt(20000)=141 -> 128
    assert recommended_cells(100) == 16              # floor clamp
    assert recommended_cells(10**9) == 32_768        # sqrt(1e9)=31623 -> 32768
    assert recommended_cells(10**12) == 1 << 18      # ceiling clamp
    prev = 0
    for n in (1_000, 10_000, 10**6, 10**8, 10**10):
        c = recommended_cells(n)
        assert c >= prev and (c & (c - 1)) == 0      # monotone, power of two
        prev = c
    with _pytest.raises(ValueError):
        recommended_cells(0)


def _vec(base, eps=0.0):
    """64-dim unit-ish vector along a base axis with a small twist."""
    v = [0.0] * 64
    v[base] = 1.0
    v[(base + 1) % 64] = eps
    return v


@pytest.mark.slow
def test_semantic_dedup_keeps_least_central_member(spark):
    """SemDeDup contract on a hand-built corpus: two centroid-aligned
    near-dup groups + one singleton — components labeled by min id,
    exactly one keep per component, and the keep is the member LEAST
    similar to its cell centroid (the informative outlier), not the
    min id."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        # cell 0 dup group: ids 10, 11, 12 — 12 is the most off-axis
        (10, _vec(0, 0.01)),
        (11, _vec(0, 0.02)),
        (12, _vec(0, 0.40)),
        # cell 1 dup group: ids 20, 21
        (20, _vec(7, 0.05)),
        (21, _vec(7, 0.10)),
        # singleton in cell 0's orbit but dissimilar to everything
        (30, _vec(33, 0.0)),
    ]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebook = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(7)), (2, _vec(33))],
        "cell int, centroid array<double>",
    )
    out = semantic_dedup(
        vectors, codebook, threshold=0.9
    ).orderBy("vec_id").collect()
    by_id = {r["vec_id"]: r for r in out}
    # singleton never appears; groups labeled by min id
    assert 30 not in by_id
    assert {r["vec_id"] for r in out} == {10, 11, 12, 20, 21}
    assert all(by_id[i]["component"] == 10 for i in (10, 11, 12))
    assert all(by_id[i]["component"] == 20 for i in (20, 21))
    # exactly one keep per component, and it's the least-central member
    assert [i for i in (10, 11, 12) if by_id[i]["keep"] == 1] == [12]
    # cell-1 group: 21 (eps .10) is further from the axis centroid than 20
    assert [i for i in (20, 21) if by_id[i]["keep"] == 1] == [21]
    # cent_cos is the 6-dp rounded assignment cosine, descending with eps
    assert by_id[10]["cent_cos"] > by_id[12]["cent_cos"]


@pytest.mark.slow
def test_semantic_dedup_cross_cell_pairs_not_examined(spark):
    """The cluster-partition recall contract: a near-dup pair split
    across two cells is NOT reported (the paper's accepted trade) —
    pair enumeration must stay within cells."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        semantic_dedup,
    )

    # two nearly identical vectors sitting right between two centroids,
    # nudged to opposite sides so argmax assigns them apart
    a = [0.0] * 64
    a[0], a[1] = 1.0, 0.999
    b = [0.0] * 64
    b[0], b[1] = 0.999, 1.0
    vectors = spark.createDataFrame(
        [(1, a), (2, b)], "vec_id long, embedding array<double>"
    )
    codebook = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(1))], "cell int, centroid array<double>"
    )
    out = semantic_dedup(vectors, codebook, threshold=0.9).collect()
    assert out == []  # cosine(a,b) ~ 0.9999 but cells differ


def test_semantic_dedup_pair_budget_guard(spark):
    """Fixed-codebook form honors the pair budget: a 1-cell codebook
    concentrates all N ids in one bucket — the pre-flight must raise
    past a shrunken budget, naming the scale path."""
    from bigdatapipelinepysparksqlserver_spark.operators.dedup import (
        PairBudgetExceeded,
    )
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        semantic_dedup,
    )

    vectors = spark.createDataFrame(
        [(i, _vec(i % 4)) for i in range(20)], "vec_id long, embedding array<double>"
    )
    codebook = spark.createDataFrame(
        [(0, _vec(0))], "cell int, centroid array<double>"
    )
    with pytest.raises(PairBudgetExceeded, match="semantic_dedup sized"):
        semantic_dedup(vectors, codebook, pair_budget=10).collect()


def test_semantic_dedup_build_job_bound(spark, jobs_launched):
    """semantic_dedup runs its eager Spark jobs while the plan is built
    (codebook collect, the contracted-edge checkpoint, the star-forest
    test). On this corpus every duplicate group is a clique inside one
    coalesced partition, so the local contraction finishes it and no
    star round runs. Measured: 14 jobs; before the contraction the same
    build ran 25, the rest being star rounds and their star-forest
    tests."""
    from bigdatapipelinepysparksqlserver_spark.caching import release_caches
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(10 + i, _vec(0, 0.01 * i)) for i in range(4)]
    rows += [(20 + i, _vec(7, 0.02 * i)) for i in range(3)]
    rows += [(30, _vec(33))]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebook = spark.createDataFrame(
        [(0, _vec(0)), (1, _vec(7)), (2, _vec(33))],
        "cell int, centroid array<double>",
    )
    with jobs_launched() as jobs:
        out = semantic_dedup(vectors, codebook, threshold=0.9)
    got = {(r.vec_id, r.component) for r in out.collect()}
    release_caches()
    assert got == {(i, 10) for i in range(10, 14)} | {(i, 20) for i in (20, 21, 22)}
    assert len(jobs) <= 14, f"{len(jobs)} Spark jobs while building semantic_dedup"


def test_assignment_blas_path_matches_literal(spark, executed_plan):
    """Large codebooks switch assignment to the Arrow/numpy path
    (MapInPandas in the plan); small ones stay on the literal scan-side
    projection (no Python in the plan). Both must agree on (cell,
    6-dp cent_cos) for the same inputs — the argmax contract is
    strategy-independent."""
    import random

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        BLAS_CELL_THRESHOLD,
        ivf_assign_with_cos,
    )

    rng = random.Random(7)
    vectors = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    big = [(c, [rng.uniform(-1, 1) for _ in range(16)])
           for c in range(BLAS_CELL_THRESHOLD + 8)]
    small = big[:32]

    small_df = ivf_assign_with_cos(vectors, small)
    assert "MapInPandas" not in executed_plan(small_df)
    big_df = ivf_assign_with_cos(vectors, big)
    assert "MapInPandas" in executed_plan(big_df)

    # agreement: run the literal path on the big codebook too (bypass
    # the switch by slicing into the two halves and merging driver-side
    # is overkill — instead compare on the small codebook, where both
    # strategies are exercisable)
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        _assign_blas,
    )

    lit_rows = {
        r["vec_id"]: (r["cell"], round(r["cent_cos"], 6))
        for r in small_df.collect()
    }
    blas_rows = {
        r["vec_id"]: (r["cell"], round(r["cent_cos"], 6))
        for r in _assign_blas(vectors, small, "vec_id", "embedding").collect()
    }
    assert lit_rows == blas_rows


@pytest.mark.slow
def test_quantized_search_recall_and_exactness(spark, emb):
    """int8 quantization contract: (a) qvec values are genuine tinyints
    in [-127, 127] with the max-|x| element hitting ±127 exactly,
    (b) quantized cosine tracks the float cosine to ~1e-3 on the
    synthetic embeddings, (c) recall@10 vs the exact search ≥ 0.9 —
    the compressed store must not change answers materially."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    qv = quantize_embeddings(emb).collect()
    for r in qv[:50]:
        vals = r["qvec"]
        assert all(-127 <= v <= 127 for v in vals)
        assert max(abs(v) for v in vals) == 127  # max element saturates
    q = emb.where(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, q, k=10).collect()
    quant = quantized_topk(emb, q, k=10).collect()
    # per-query cosine agreement on shared pairs
    e_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    q_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in quant}
    shared = set(e_cos) & set(q_cos)
    assert shared
    assert all(abs(e_cos[k] - q_cos[k]) < 5e-3 for k in shared)
    # recall@10
    from collections import defaultdict

    e_sets, q_sets = defaultdict(set), defaultdict(set)
    for r in exact:
        e_sets[r["query_id"]].add(r["neighbor_id"])
    for r in quant:
        q_sets[r["query_id"]].add(r["neighbor_id"])
    recalls = [
        len(e_sets[qid] & q_sets[qid]) / len(e_sets[qid]) for qid in e_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9


def test_quantize_zero_vector_guard(spark):
    """A zero vector must quantize to all-zero ints, not NaN/null."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [0.5, -1.0] + [0.0] * 6)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[1]["qvec"] == [0] * 8 and rows[1]["qscale"] == 0.0
    assert rows[2]["qvec"][:2] == [64, -127] and rows[2]["qscale"] == 1.0


def test_ivfpq_recall_floor_and_store_shape(spark, emb, tmp_path):
    """IVFPQ keeps meaningful recall vs exact (both compressions
    engaged: cell pruning on top of 32x PQ), and the store on disk is
    cell-partitioned with code-only rows."""
    import os

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        ivfpq_topk,
        pq_sub_codebooks,
        write_ivfpq_store,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        _load_ivf_artifact,
    )

    art = _load_ivf_artifact()
    codebook = spark.createDataFrame(
        sorted((int(c), v) for c, v in art["centroids"].items()),
        ["cell", "centroid"],
    ).select("cell", F.col("centroid").cast("array<double>").alias("centroid"))
    cbs = pq_sub_codebooks(emb)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_store(emb, codebook, cbs, path)
    assert any(d.startswith("cell=") for d in os.listdir(path))
    store = spark.read.parquet(path)
    assert sorted(store.columns) == ["cell", "codes", "vec_id"]
    codes = {r["vec_id"]: r["codes"] for r in store.select("vec_id", "codes").collect()}
    assert all(0 <= c < 16 for cs in codes.values() for c in cs)
    # a codebook vector's slices are their own nearest sub-centroids
    assert all(codes[vid] == [vid] * 8 for vid in range(16))

    q = emb.where(F.col("vec_id") < 8)
    got = ivfpq_topk(spark, path, q, codebook, cbs, n_probe=6, k=10).collect()
    exact = brute_force_topk(emb, q, k=10).collect()
    from collections import defaultdict

    e, p = defaultdict(set), defaultdict(set)
    for r in exact:
        e[r["query_id"]].add(r["neighbor_id"])
    for r in got:
        p[r["query_id"]].add(r["neighbor_id"])
    recalls = [len(e[k_] & p[k_]) / len(e[k_]) for k_ in e]
    # floor documents measured behavior (~0.27 at sf0.01, chance 0.02)
    assert sum(recalls) / len(recalls) >= 0.15


def test_multiprobe_recall_dominates_single_probe(spark, emb):
    """Multi-probe LSH must (a) return a SUPERSET-quality result: its
    candidate pool contains the plain LSH pool by construction (probe
    set includes the home bucket), so recall@10 vs brute force can only
    be >= the single-probe recall; (b) measurably improve it on the
    synthetic embeddings (the whole point of spending bits+1 probes)."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        brute_force_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )

    q = emb.where(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, q, k=10).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, q, dim=64, k=10, bits=4, tables=4).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in lsh_multiprobe_topk(
            emb, q, dim=64, k=10, bits=4, tables=4
        ).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi >= r_single + 0.1, (
        f"multi-probe bought no recall: {r_single:.3f} -> {r_multi:.3f}"
    )
