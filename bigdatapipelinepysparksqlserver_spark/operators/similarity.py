"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the correctness baseline (linear scans are
fine when the query set is small and broadcast); the scale path is
random-hyperplane LSH bucketing (sign-bit signatures → bucket join →
exact verify), which avoids the full cross product the same way
MinHash-LSH does for text dedup.

Every top-k here is candidate generation followed by ONE shared exact
re-rank (:func:`_exact_rerank`): the index — none, LSH buckets, IVF
cells, PQ codes — only decides which (query, neighbor) pairs get
scored; scoring, ranking and rounding are the same code for all.

All arithmetic is native Catalyst expressions (`zip_with`/`aggregate`
fold over the array) — no Python UDFs, so the scan stays inside
whole-stage codegen. Values are cast to double BEFORE multiplication so
the result is independent of the float32 storage type.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i as a deterministic left-to-right double fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Scale: the query side is broadcast (it is the small side by contract),
    so the big vectors table is scanned ONCE with no shuffle of vector
    payloads; only (query_id, neighbor_id, cosine) triples — 24 bytes/row —
    reach the per-query top-k, which Catalyst plans as a partial
    TakeOrderedAndProject under the window when k is small.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded.
    """
    pairs = _side(vectors, "neighbor", id_col, vec_col).crossJoin(
        F.broadcast(_side(queries, "query", id_col, vec_col))
    )
    return _exact_rerank(pairs.where(F.col("query_id") != F.col("neighbor_id")), k)


def _side(
    df: DataFrame, role: str, id_col: str, vec_col: str, *extra
) -> DataFrame:
    """One side of a top-k pair: ``({role}_id, {role}_vec, norm)`` with
    ``role`` "query" (norm ``__qn``) or "neighbor" (norm ``__nn``), plus
    ``extra`` columns (join keys).

    The norm is hoisted to the side projection: norm() is an interpreted
    HOF fold over the vector, and inside the per-pair cosine it would
    re-run once per (query, neighbor) pair and side; here it runs once
    per vector row.
    """
    return df.select(
        F.col(id_col).alias(f"{role}_id"),
        F.col(vec_col).alias(f"{role}_vec"),
        norm(F.col(vec_col)).alias("__qn" if role == "query" else "__nn"),
        *extra,
    )


def _exact_rerank(cands: DataFrame, k: int) -> DataFrame:
    """The exact tail of every top-k in this module: score candidate
    pairs ``(query_id, neighbor_id, query_vec, __qn, neighbor_vec,
    __nn)`` by cosine, rank each query's candidates by (cosine desc,
    neighbor_id asc), keep ranks ≤ k, round cosines to 6 dp.

    ``dot / (__qn·__nn)`` is exactly what cosine() expands to — same
    fold order, bit-identical result — with the norms hoisted to the
    sides (:func:`_side`). Which pairs arrive here — self-match filter
    and candidate dedup included — is the caller's candidate generation.

    Returns (query_id, neighbor_id, cosine, rank).
    """
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("query_vec"), F.col("neighbor_vec"))
            / (F.col("__qn") * F.col("__nn"))
        ).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank"
        )
    )


def hyperplane_constants(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes as PLAIN FLOAT LITERALS
    (fixed-seed 64-bit LCG, components in [-1, 1) rounded to 6 dp).

    Literals — not per-row hash expressions — for two reasons: Catalyst
    constant-folds the plane arrays (the old xxhash64-per-component form
    recomputed dim×bits hashes per ROW inside an interpreted lambda),
    and the same short decimal literals paste into DuckDB SQL parsing to
    the identical doubles, which is what makes LSH bucketing
    oracle-checkable outside the JVM.
    """
    state = 0xB5297A4D
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(round(state / float(1 << 63) - 1.0, 6))
        planes.append(row)
    return planes


def recommended_bits(
    n_vectors: int,
    target_bucket: int = 80,
    min_bits: int = 4,
    max_bits: int = 24,
) -> int:
    """Default sizing policy for the hyperplane-LSH ``bits`` parameter:
    ``bits ≈ log2(n_vectors / target_bucket)``, clamped to
    [min_bits, max_bits].

    With FIXED bits the bucket count is constant, so expected candidate
    pairs grow quadratically in N no matter how the plan is shaped —
    ``bits`` must grow with the corpus to keep expected bucket occupancy
    (and therefore candidate work per vector) constant. The default
    ``target_bucket=80`` is anchored to the r4 sf1 measurement
    (BASELINE.md "scale rehearsal": 20 k vectors, threshold 0.99 —
    bits=4 → 45.6 s, bits=8 → 5.4 s retaining 99.6 % of pairs): this
    policy returns 8 there, the measured sweet spot.

    The engine deliberately does NOT derive bits from a count scan
    inside the operators: the plane matrix is part of a query's
    identity (the DuckDB oracle replays it as literals), so callers
    size bits from a known corpus cardinality via this helper and pass
    it explicitly — a control-plane ``df.count()`` feeding this
    function is the production pattern (see ``emb_neardup_lsh_sized``).
    Raising bits trades recall for cost smoothly — re-verify recall
    against a sampled exact baseline when moving far from the anchor
    regime.

    Rounding is ``floor(x + 0.5)`` (half-away-from-zero for the
    positive args here), NOT Python's banker-rounding ``round()``:
    SQL ``ROUND`` has the same half-away semantics, which is what lets
    the SF-adaptive DuckDB oracles recompute bits from ``COUNT(*)``
    and land on the identical value. Exact .5 ties require
    N = target·2^(k+1/2) — irrational, so the branch never actually
    differs — but the contract is explicit so both engines share one
    formula.
    """
    import math

    if n_vectors <= 0:
        raise ValueError(f"n_vectors must be positive, got {n_vectors}")
    if target_bucket <= 0:
        raise ValueError(f"target_bucket must be positive, got {target_bucket}")
    bits = math.floor(math.log2(max(n_vectors / target_bucket, 1.0)) + 0.5)
    return max(min_bits, min(max_bits, int(bits)))


def recommended_cells(
    n_vectors: int,
    min_cells: int = 16,
    max_cells: int = 1 << 18,
) -> int:
    """Default IVF cell-count policy: ``n_cells ≈ √N`` (the standard
    inverted-file sizing — cells and per-cell postings both grow as √N,
    balancing quantizer cost against probe cost), clamped and rounded
    to a power of two for stable partition layouts.

    Why it matters for the cell-PARTITIONED store: a probe reads
    ``probe_union/n_cells`` of the data, so pruning only pays while the
    probe union is a small fraction of the cells. Measured at sf1
    (20 k vectors, BASELINE.md r5 note): with 16 cells an 8-query ×
    6-probe batch unions to 14/16 cells — 87 % scanned, pruning
    degenerate; with 64 cells (the same √N regime as this policy's 128
    for √20000 ≈ 141) the same batch reads 35.6 % and a single query
    9.6 %, with the probe 2.5× faster than scan-assignment. At 10⁹ vectors the
    policy gives ~32 k cells: a 32-probe query reads ~0.1 % of the
    store — the number that makes ANN on 100 TB of embeddings I/O-
    feasible at all.
    """
    import math

    if n_vectors <= 0:
        raise ValueError(f"n_vectors must be positive, got {n_vectors}")
    target = max(1.0, n_vectors ** 0.5)
    # round the EXPONENT (log-space nearest): guarantees the chosen
    # power of two is within a factor √2 of √N — linear-space nearest
    # violates that near geometric midpoints (hypothesis-caught:
    # N=32769 → linear picks 128 with √N/128 ≈ 1.4143 > √2)
    cells = 1 << round(math.log2(target))  # target ≥ 1 ⇒ exponent ≥ 0
    return max(min_cells, min(max_cells, cells))


def hyperplane_signature(
    vec: Column, dim: int, bits: int = 16, table: int = 0
) -> Column:
    """Random-hyperplane LSH signature: bit_j = sign(dot(vec, r_j)) ≥ 0.

    Deterministic (literal plane matrix from :func:`hyperplane_constants`)
    — reproducible across runs/executors AND in the DuckDB oracle, with
    no driver-side randomness or broadcast of plane matrices. ``table``
    selects a disjoint plane block from the same LCG stream, for
    multi-table amplification.
    """
    planes = hyperplane_constants(dim, bits * (table + 1))[table * bits :]
    bit_cols = []
    for j, row in enumerate(planes):
        plane = F.array(*[F.lit(c) for c in row])
        proj = dot(vec, plane)
        bit_cols.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return sig.cast("long")


def hyperplane_buckets(
    vec: Column, dim: int, bits: int, tables: int
) -> Column:
    """Array of (table, bucket) structs — one ``bits``-bit signature per
    table, each from a disjoint literal plane block.

    Multi-table amplification is LSH's OR-of-ANDs (the hyperplane analog
    of MinHash banding): one table's b-bit bucket match has probability
    p^b for per-bit agreement p, missing moderate-similarity neighbors;
    L tables recover them at 1−(1−p^b)^L while keeping every join an
    8-byte bucket key. Recall@10 on the synthetic embeddings: 0.125 with
    one 4-bit table → ~0.6 with four.
    """
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_signature(vec, dim=dim, bits=bits, table=t).alias("bucket"),
            )
            for t in range(tables)
        ]
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane-LSH bucketing.

    Candidates = vectors sharing the query's `bits`-bit signature bucket
    in ANY of ``tables`` tables (OR-of-ANDs amplification — see
    :func:`hyperplane_buckets`); exact cosine re-ranks within the
    candidate set, deduplicated across tables BEFORE scoring so the O(d)
    cosine runs once per pair. At 100 TB the bucket join replaces the
    full scan per query: the vectors table is signed once during its
    scan (pure projection) and every join key is an 8-byte (table,
    bucket) pair. Recall tunes by (bits ↓, tables ↑); cost by the
    inverse.
    """
    v, q = _lsh_sides(vectors, queries, id_col, vec_col, dim, bits, tables)
    cands = (
        v.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(cands, k)


def _lsh_sides(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    tables: int,
) -> tuple[DataFrame, DataFrame]:
    """Both sides of a hyperplane-LSH bucket join, one row per (vector,
    table): the corpus as (neighbor_id, neighbor_vec, __nn, table,
    bucket) — signed once, during its scan (a pure projection) — and
    the queries as (query_id, query_vec, __qn, table, bucket)."""
    buckets = hyperplane_buckets(F.col(vec_col), dim=dim, bits=bits, tables=tables)

    def signed(df: DataFrame, role: str) -> DataFrame:
        sd = _side(df, role, id_col, vec_col, F.explode(buckets).alias("tb"))
        return sd.select(*sd.columns[:3], "tb.table", "tb.bucket")

    return signed(vectors, "neighbor"), signed(queries, "query")


def train_ivf_codebook(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Train the IVF coarse quantizer: seeded KMeans (8 iterations) over
    L2-normalized vectors → (cell, centroid array<double>) codebook
    DataFrame.

    L2-normalization makes Euclidean KMeans approximate spherical
    k-means (||â−b̂||² = 2−2·cos on unit vectors), matching the
    argmax-cosine assignment :func:`ivf_codebook_topk` performs (compose
    the two for an ad-hoc train-then-search; production trains offline,
    ``tools/train_ivf_codebook.py``, and versions the codebook).
    Centroid components are rounded to 6 dp so a codebook serialized to
    text (the versioned-artifact path) reproduces the exact same doubles
    when pasted into an oracle SQL literal.

    Scale: one fit over the (sampled, in production) vectors table; the
    codebook is model-sized by construction.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # The cast array and its norm are PROJECTED to columns before the
    # transform lambda: interpreted HOF bodies get no common-subexpression
    # elimination, so inlining them would redo the O(d) cast + aggregate
    # per element — O(d²) per row.
    pre = vectors.select(F.col(vec_col).cast("array<double>").alias("__arr")).withColumn(
        "__norm",
        F.sqrt(F.aggregate(F.col("__arr"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    feat = pre.select(
        array_to_vector(
            F.transform(F.col("__arr"), lambda x: x / F.col("__norm"))
        ).alias("features")
    )
    # random init (seeded, deterministic): k-means|| init costs ~2 extra
    # distributed passes, pointless precision for a COARSE quantizer whose
    # cell boundaries only gate recall, not correctness of the re-rank.
    km = KMeans(k=n_centroids, seed=seed, maxIter=8, initMode="random")
    model = km.fit(feat)
    cells = [
        (i, [round(float(x), 6) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    return vectors.sparkSession.createDataFrame(
        cells, ["cell", "centroid"]
    ).select("cell", F.col("centroid").cast("array<double>").alias("centroid"))


def embedding_near_duplicates(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, multi-table
    bucket-then-verify (see :func:`hyperplane_buckets` for the
    amplification math).

    (id1 < id2, cosine ≥ threshold). Candidate enumeration is ID-ONLY:
    buckets carry (table, bucket, id) rows into the shared two-tier
    :func:`~..operators.dedup.grouped_pair_enumeration` (in-row expansion
    under ``bucket_cap``, distributed self-join above it — task memory
    bounded, no recall loss), and the VECTORS rejoin only at the verify
    stage, by id, candidate-proportionally. An earlier formulation
    collected the vectors into the buckets and shuffled (v1, v2) through
    the pair expansion AND the cross-table dedup — ~70 bytes/pair of key
    vs ~550 of payload; the r4 sf1 scale rehearsal measured that as the
    one super-linear cliff in the suite (>40x wall at 10x data). Keys
    travel, payloads stay put.

    Parameter note for 100 TB: ``bits`` must grow ~log2(N / wanted
    bucket size) — with FIXED bits the bucket count is constant, so
    candidate pairs grow quadratically in N no matter how the plan is
    shaped. Size it with :func:`recommended_bits` (the measured
    bits↔N policy, anchored to the sf1 rehearsal: bits 4→8 cut wall
    8.4× keeping 99.6 % of pairs). The engine keeps bits explicit
    (never derived from a count scan) because the plane matrix is part
    of the query's identity — the DuckDB oracle replays it as literals.
    """
    from .dedup import grouped_pair_enumeration

    tb = hyperplane_buckets(F.col(vec_col), dim=dim, bits=bits, tables=tables)
    tagged = vectors.select(
        F.col(id_col).alias("doc_id"), F.explode(tb).alias("tb")
    ).select("doc_id", "tb.table", "tb.bucket")
    # a pair colliding in several tables must verify once: dedup the
    # 16-byte id pairs BEFORE the O(d) cosine
    pairs = grouped_pair_enumeration(
        tagged, ["table", "bucket"], "doc_id", bucket_cap=bucket_cap
    ).dropDuplicates(["id1", "id2"])
    # norms hoisted per vector row (r11, bit-identical — see
    # brute_force_topk): once per side row instead of once per pair
    v1 = vectors.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        norm(F.col(vec_col)).alias("__n1"),
    )
    v2 = vectors.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        norm(F.col(vec_col)).alias("__n2"),
    )
    scored = (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .select(
            "id1",
            "id2",
            (
                dot(F.col("v1"), F.col("v2"))
                / (F.col("__n1") * F.col("__n2"))
            ).alias("cos_raw"),
        )
    )
    return scored.where(F.col("cos_raw") >= threshold).select(
        "id1", "id2", F.round("cos_raw", 6).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Shared IVF assignment expression builders. One parsed expression per
# projection (not per-cell Column arithmetic: cells × dim literal lifts
# cost thousands of Py4J round-trips per plan build — see
# minhash_signatures for the measurement). Each cell contributes a
# (cosine, -cell) struct whose cosine mirrors :func:`cosine` exactly
# (same fold shape, same left-to-right double order), with the centroid
# as a literal array — Catalyst constant-folds the centroid norm at plan
# time. Ties resolve to the LOWEST cell (max of -cell).
# ---------------------------------------------------------------------------

_IVF_VNORM_SQL = (
    "sqrt(aggregate(transform(__v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "0.0D, (acc, v) -> acc + v))"
)


def _collect_codebook(codebook, cell_col: str, cent_col: str, who: str):
    cells = [
        (int(r[cell_col]), [float(x) for x in r[cent_col]])
        for r in codebook.select(cell_col, cent_col).collect()
    ]
    cells.sort()
    if not cells:
        raise ValueError(f"{who}: empty codebook (no cells)")
    return cells


def _ivf_cell_structs(cells) -> str:
    def cell_struct(cell: int, cent: list[float]) -> str:
        arr = "array(" + ", ".join(f"{x!r}D" for x in cent) + ")"
        dot = (
            f"aggregate(zip_with(__v, {arr}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
        )
        cnorm = (
            f"sqrt(aggregate(transform({arr}, x -> x * x), 0.0D, "
            "(acc, v) -> acc + v))"
        )
        return f"struct({dot} / (__vnorm * {cnorm}) AS c, {-cell} AS nc)"

    return ", ".join(cell_struct(cell, cent) for cell, cent in cells)


def _ivf_argmax_sql(cells) -> str:
    # greatest() needs ≥ 2 args; a 1-cell codebook is a constant assignment
    if len(cells) == 1:
        return f"{cells[0][0]}"
    return f"CAST(-greatest({_ivf_cell_structs(cells)}).nc AS INT)"


def _ivf_probe_sql(cells, n_probe: int) -> str:
    return (
        f"transform(slice(reverse(array_sort(array({_ivf_cell_structs(cells)}))), "
        f"1, {n_probe}), s -> CAST(-s.nc AS INT))"
    )


def _ivf_py_scores(vec: list[float], cells) -> list[tuple[float, int]]:
    """Driver-side twin of the cell-struct cosine: SAME left-to-right
    double fold as the SQL aggregate, so the python argmax/probe picks
    exactly the cells the scan-side expression would."""
    import math

    vn = 0.0
    for x in vec:
        vn += float(x) * float(x)
    vn = math.sqrt(vn)
    out = []
    for cell, cent in cells:
        dot = 0.0
        for x, y in zip(vec, cent):
            dot += float(x) * y
        cn = 0.0
        for y in cent:
            cn += y * y
        cn = math.sqrt(cn)
        out.append((dot / (vn * cn), cell))
    return out


def ivf_codebook_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k with an EXTERNALLY-TRAINED codebook — the
    production IVF shape (the quantizer is trained offline and versioned
    as an artifact; :func:`train_ivf_codebook` trains one).

    The codebook (cell, centroid) is collected driver-side — it is
    model-scale by contract, exactly what a KMeans model broadcast would
    ship — and baked into the assignment expression as literal arrays:
    cell(v) = argmax_c cosine(v, centroid_c), ties to the lowest cell.
    Assignment is therefore a PURE PROJECTION computed during the scan —
    no shuffle, no 16× row inflation through an exchange — and, being
    literal arithmetic, it is replayable by the DuckDB oracle (cosine is
    scale-invariant, so raw centroids work unnormalized).

    Scale: one scan of the vectors table (assign), a bucket join on the
    8-byte cell id against the broadcast (query × probe) list, exact
    re-rank on candidates only.
    """
    cells = _collect_codebook(codebook, cell_col, cent_col, "ivf_codebook_topk")
    argmax = _ivf_argmax_sql(cells)
    probe = _ivf_probe_sql(cells, n_probe)
    vnorm = _IVF_VNORM_SQL

    # __vnorm doubles as the hoisted re-rank norm (r11): it is the same
    # sqrt-of-squares fold cosine() would recompute per candidate pair
    assigned = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("neighbor_vec"),
            F.col(vec_col).alias("__v"),
        )
        .withColumn("__vnorm", F.expr(vnorm))
        .select(
            "neighbor_id",
            "neighbor_vec",
            F.col("__vnorm").alias("__nn"),
            F.expr(argmax).alias("cell"),
        )
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            F.col(vec_col).alias("__v"),
        )
        .withColumn("__vnorm", F.expr(vnorm))
        .select(
            "query_id",
            "query_vec",
            F.col("__vnorm").alias("__qn"),
            F.explode(F.expr(probe)).alias("cell"),
        )
    )
    cands = (
        assigned.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(cands, k)


def ivf_assign(vectors: DataFrame, cells) -> DataFrame:
    """(vec_id, embedding, cell) — argmax-cosine cell assignment against
    a collected codebook (``cells`` = sorted (cell, centroid) tuples from
    :func:`_collect_codebook`), as a pure scan-side projection."""
    return (
        vectors.select(
            F.col("vec_id"), F.col("embedding"), F.col("embedding").alias("__v")
        )
        .withColumn("__vnorm", F.expr(_IVF_VNORM_SQL))
        .select("vec_id", "embedding", F.expr(_ivf_argmax_sql(cells)).alias("cell"))
    )


def ivf_store_append_batch(
    vectors: DataFrame,
    cells: list,
    path: str,
    batch_id: int,
) -> None:
    """Append one ingest batch to a GROWING cell-partitioned vector
    store: assign the batch's vectors (:func:`ivf_assign`) and overwrite
    ``{path}/batch=N`` partitioned by cell.

    Layout ``batch=N/cell=C/``: partition discovery reads both levels,
    so a probe's ``cell IN (…)`` predicate still prunes at the
    file-listing level inside every batch directory — the store keeps
    its index property as it grows, with no rewrite of prior batches.
    Overwriting the batch's OWN directory (never appending files into
    shared cell dirs) makes a replay of batch N idempotent.

    ``cells`` is the COLLECTED versioned codebook (sorted
    (cell, centroid) tuples — model-sized by contract); it must be the
    same artifact the probes use: mixing codebooks across batches would
    break the assignment↔probe agreement that makes pruning lossless.
    Re-training (cell drift) is a full rebuild under a new store
    version.
    """
    if not cells:
        raise ValueError("ivf_store_append_batch: empty codebook")
    ivf_assign(vectors, cells).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/batch={batch_id}")


def ivf_partitioned_topk(
    spark,
    store_path: str,
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_col: str = "centroid",
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """IVF top-k over a :func:`ivf_store_append_batch` store, probing via
    PARTITION PRUNING: only the probed cells' directories are scanned.

    The query set is collected driver-side (it is the broadcast-small
    side by contract — same rule as the codebook) and each query's
    ``n_probe`` cells are computed with :func:`_ivf_py_scores`, whose
    double arithmetic folds left-to-right exactly like the scan-side SQL
    — so the probe set here matches what the projection-assignment
    search (:func:`ivf_codebook_topk`) would probe, and the two return
    identical results (pytest-asserted). The union of probe cells
    becomes a LITERAL ``cell IN (…)`` predicate on the partition column
    → Hive partition pruning at the file-listing level, visible as
    ``PartitionFilters`` in the executed plan.
    """
    cells = _collect_codebook(codebook, cell_col, cent_col, "ivf_partitioned_topk")
    q, probe_cells = _ivf_probe_queries(spark, queries, cells, id_col, vec_col, n_probe)
    store = spark.read.parquet(store_path).where(F.col("cell").isin(probe_cells))
    cands = (
        _side(store, "neighbor", id_col, vec_col, "cell")
        .join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(cands, k)


def _ivf_probe_queries(
    spark, queries: DataFrame, cells, id_col: str, vec_col: str, n_probe: int
) -> tuple[DataFrame, list[int]]:
    """Driver-side IVF probe for the store searches: collect the query
    set (broadcast-small by contract) and pick each query's ``n_probe``
    best cells with :func:`_ivf_py_scores` (ties to the lowest cell).

    Returns the probe side (query_id, cell, query_vec, __qn) — one row
    per (query, probed cell) — and the sorted union of probed cells, the
    literal ``cell IN (…)`` partition-pruning set.
    """
    probe_rows = []
    for r in queries.select(id_col, vec_col).collect():
        scores = _ivf_py_scores(list(r[vec_col]), cells)
        scores.sort(key=lambda t: (-t[0], t[1]))
        for _, cell in scores[:n_probe]:
            probe_rows.append((int(r[id_col]), cell, [float(x) for x in r[vec_col]]))
    q = spark.createDataFrame(
        probe_rows, "query_id long, cell int, query_vec array<double>"
    ).withColumn("__qn", norm(F.col("query_vec")))
    return q, sorted({c for _, c, _ in probe_rows})


# Past this many cells the literal-struct assignment expression stops
# being the right tool (expression size grows as cells × dim — ~3 KB per
# 64-dim cell — and the interpreted greatest() chain evaluates each
# centroid's fold per row) and assignment switches to the Arrow-batched
# BLAS path below. 128 keeps every local-SF policy-sized codebook
# (16-64 cells) on the oracle-replayable literal path.
BLAS_CELL_THRESHOLD = 128


def _assign_blas(
    vectors: DataFrame,
    cells,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow-batched argmax-cosine assignment for LARGE codebooks: one
    numpy matmul per Arrow batch against the broadcast normalized
    centroid matrix — the FAISS-shaped coarse-quantizer path (batch ×
    cells × dim BLAS beats per-row interpreted folds by orders of
    magnitude once cells grow past a few hundred).

    Determinism note: BLAS summation order differs from the literal
    expression's left-to-right fold in low-order bits, so this path is
    for SCALE regimes (no oracle replay); argmax is unaffected on
    non-adversarial data, ties break to the LOWEST cell (np.argmax
    first-max over the ascending-sorted cell axis — same contract as
    the literal path). Per-batch peak memory is batch_rows × cells
    doubles — bound batches via
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` when cells are
    many (10 k rows × 2 k cells ≈ 160 MB).
    """
    import numpy as np
    import pandas as pd

    cell_ids = np.array([c for c, _ in cells], dtype=np.int64)
    mat = np.array([cent for _, cent in cells], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = vectors.sparkSession.sparkContext.broadcast((cell_ids, mat))

    def assign(batches):
        ids_arr, m = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            vn = np.linalg.norm(v, axis=1)
            s = (v @ m.T) / vn[:, None]
            idx = s.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": ids_arr[idx].astype("int32"),
                    "cent_cos": s[np.arange(len(idx)), idx],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, cell int, cent_cos double"
    )


def ivf_assign_with_cos(
    vectors: DataFrame,
    cells,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, cent_cos) — argmax-cosine cell assignment PLUS the
    winning cosine itself, from ONE ``greatest()`` over the literal
    cell structs (the struct already carries the cosine as its ordering
    key; :func:`ivf_assign` throws it away, semantic dedup needs it as
    the representative-selection score).

    Same determinism contract as :func:`ivf_assign`: literal 6-dp-safe
    centroids, left-to-right double folds, ties to the LOWEST cell —
    all replayable in the DuckDB oracle. Codebooks past
    ``BLAS_CELL_THRESHOLD`` cells switch to :func:`_assign_blas` (Arrow
    + numpy matmul — the scale path; same argmax contract, low-bit FP
    divergence documented there).
    """
    if len(cells) > BLAS_CELL_THRESHOLD:
        return _assign_blas(vectors, cells, id_col, vec_col)
    if len(cells) == 1:
        only = cells[0][0]
        pre = vectors.select(
            F.col(id_col), F.col(vec_col).alias("__v")
        ).withColumn("__vnorm", F.expr(_IVF_VNORM_SQL))
        return pre.select(
            id_col,
            F.lit(int(only)).alias("cell"),
            F.expr(_ivf_cell_structs(cells) + ".c").alias("cent_cos"),
        )
    amax = f"greatest({_ivf_cell_structs(cells)})"
    return (
        vectors.select(F.col(id_col), F.col(vec_col).alias("__v"))
        .withColumn("__vnorm", F.expr(_IVF_VNORM_SQL))
        .withColumn("__amax", F.expr(amax))
        .select(
            id_col,
            F.expr("CAST(-__amax.nc AS INT)").alias("cell"),
            F.col("__amax.c").alias("cent_cos"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    pair_budget: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster-partition the corpus with a coarse
    quantizer, find near-duplicate pairs WITHIN each cluster, group them
    into connected components, and keep ONE representative per
    component — the member LEAST similar to its cluster centroid (the
    paper's choice: redundant near-centroid copies go, the informative
    outlier stays).

    Returns (id, component, cent_cos, keep) — one row per member of a
    duplicate component (singletons never appear), ``component`` = the
    group's minimum id, ``keep`` = 1 on the representative. A curation
    run drops every row with ``keep = 0``.

    Scale: this is the embedding-dedup shape that survives 100 TB
    BECAUSE of the cluster partition — candidate pairs are enumerated
    per cell (two-tier capped, shared with MinHash/LSH dedup), so pair
    work is Σ c²/2 over cell occupancies instead of N²/2, and stays
    LINEAR in N when the codebook is sized to constant occupancy
    (``2**recommended_bits(N)`` cells ≈ N/80 — the registered query's
    policy). Assignment is a scan-side projection over literal
    centroids (no shuffle). Components come from
    ``connected_components_star``: a per-partition union-find contracts
    the verified pairs, and diameter-independent star rounds run only
    for components split across partitions. Near-dup groups are small
    cliques, so at the sizes AQE coalesces the pair list into one
    partition no round runs, and the build's eager Spark work is the
    codebook collect, the contracted-edge checkpoint and one star-forest
    test. The representative window partitions by component
    (dup-group-sized, never global). Recall note: a pair
    split across two cells is not examined — inherent to the
    cluster-partition design (the paper's accepted trade); raise
    recall with a finer threshold INSIDE cells, not more cells.

    ``pair_budget`` pre-flights Σ c·(c−1)/2 on the cell key for
    fixed-size codebooks (constant cells → quadratic growth), raising
    past budget with a message naming the policy-sized form. The
    (cell, centroid) ``codebook`` is :func:`train_ivf_codebook`'s.
    """
    from .dedup import (
        connected_components_star,
        grouped_pair_enumeration,
        pair_budget_guard,
    )

    from ..caching import scoped_persist

    cells = _collect_codebook(codebook, "cell", "centroid", "semantic_dedup")
    # persist the assignment (r12): it is consumed by the pair
    # enumeration (eagerly materialized through the components'
    # contracted-edge checkpoint) AND by the final members join —
    # without the cache the C-way argmax-cosine projection over every
    # vector ran twice per query (guide §5: reused and expensive to
    # recompute).
    assigned = scoped_persist(
        ivf_assign_with_cos(vectors, cells, id_col=id_col, vec_col=vec_col)
    )
    if pair_budget is not None:
        pair_budget_guard(
            assigned.select("cell"),
            ["cell"],
            pair_budget,
            "the semantic_dedup sized form: a codebook of 2**recommended_bits(N) cells",
        )
    pairs = grouped_pair_enumeration(
        assigned.select("cell", F.col(id_col).alias("doc_id")), ["cell"], "doc_id"
    )
    # norms hoisted to the per-VECTOR side projections (r11): norm(v)
    # depends only on the vector, so computing it inside the per-pair
    # cosine re-ran the interpreted HOF fold once per candidate pair and
    # side (Σ c² pairs × 2 folds) instead of once per vector. The pair
    # predicate below is dot/(n1*n2) — the exact expression cosine()
    # expands to, same fold order, same double arithmetic, bit-identical
    # to the oracle's replay.
    v1 = vectors.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        norm(F.col(vec_col)).alias("__n1"),
    )
    v2 = vectors.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        norm(F.col(vec_col)).alias("__n2"),
    )
    verified = (
        pairs.join(v1, "id1")
        .join(v2, "id2")
        .where(
            dot(F.col("v1"), F.col("v2")) / (F.col("__n1") * F.col("__n2"))
            >= threshold
        )
        .select("id1", "id2")
    )
    comp = connected_components_star(verified)
    members = comp.join(
        assigned.select(F.col(id_col).alias("doc_id"), "cent_cos"), "doc_id"
    ).select(
        "doc_id", "component", F.round("cent_cos", 6).alias("cent_cos")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("cent_cos").asc(), F.col("doc_id").asc()
    )
    return members.select(
        F.col("doc_id").alias(id_col),
        "component",
        "cent_cos",
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep"),
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``q_i =
    round(x_i * 127 / max|x|)`` — (id, qvec array<tinyint>, qscale
    double), the 4× compression that turns a 100 TB float32 embedding
    store into 25 TB of scan I/O (dequantize: ``q * qscale / 127``).

    Cosine is SCALE-INVARIANT, so quantized search scores
    ``cosine(q1, q2)`` directly on the int arrays — no dequantization
    in the hot loop and no per-pair use of ``qscale`` (kept for
    consumers that need magnitudes back, e.g. L2 or dot-product
    ranking). Determinism: both engines round the IDENTICAL double
    ``(x*127.0)/scale`` with half-away-from-zero semantics (Spark
    ROUND = BigDecimal HALF_UP, DuckDB ROUND — same contract as the
    policy-sizing formulas), so the DuckDB oracle replays quantization
    bit-exactly. Zero vectors quantize to all-zero (guarded division).
    """
    scale = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    q = F.when(
        F.col("qscale") == 0.0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 127.0 / F.col("qscale")).cast(
                "tinyint"
            ),
        )
    )
    return vectors.withColumn("qscale", scale).select(
        F.col(id_col), q.alias("qvec"), F.col("qscale")
    )


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors: quantize
    both sides (:func:`quantize_embeddings`), score ``cosine(q1, q2)``
    on the int arrays — the compressed-store search baseline whose scan
    reads a quarter of the float32 bytes at ~the same recall (int8
    cosine error ~1e-3 on 64-dim unit-ish vectors; pytest pins
    recall@10 against the exact search).
    """
    qv = quantize_embeddings(vectors, id_col=id_col, vec_col=vec_col)
    qq = quantize_embeddings(queries, id_col=id_col, vec_col=vec_col)
    return brute_force_topk(qv, qq, id_col=id_col, vec_col="qvec", k=k)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): split the vector into M
# subspaces, quantize each against its own small codebook — M log2(C)
# bits per vector (8 bytes here vs 256 for float32·64d). The FAISS
# workhorse compression; reconstruction = per-subspace centroid concat.
# ---------------------------------------------------------------------------


def pq_sub_codebooks(vectors: DataFrame, m: int = 8, n_codes: int = 16):
    """Deterministic sub-codebooks: the first ``n_codes`` (vec_id,
    embedding) vectors' slices per subspace — the first-ids codebook stand-in
    convention (production trains per-subspace k-means offline on the
    slices and versions the result).
    Returns ``[[(code, centroid_slice), …] per subspace]``; collect is
    control-plane (n_codes rows).
    """
    rows = (
        vectors.where(F.col("vec_id") < n_codes)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_sub_codebooks: corpus has only {len(rows)} of the first "
            f"{n_codes} ids — codebook would be undersized"
        )
    dim = len(rows[0]["embedding"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]][s * sub : (s + 1) * sub])
            for r in rows
        ]
        for s in range(m)
    ]


def _pq_code_expr(sub_cb, s: int, sub: int) -> str:
    """argmin-L2 code for subspace ``s`` as one literal expression:
    max of (-dist², -code) structs — ties to the LOWEST code, squared
    distance (same argmin as Euclidean, no sqrt)."""
    structs = []
    for code, cent in sub_cb:
        arr = "array(" + ", ".join(f"{x!r}D" for x in cent) + ")"
        d2 = (
            f"aggregate(zip_with(slice(__v, {s * sub + 1}, {sub}), {arr},"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        structs.append(f"struct(-{d2} AS nd, {-code} AS nc)")
    return f"CAST(-greatest({', '.join(structs)}).nc AS INT)"


def _pq_codes_expr(sub_codebooks) -> str:
    """``array(code_0, …, code_{M-1})`` over a column named ``__v`` —
    the whole PQ encoding as ONE scan-side projection expression."""
    m = len(sub_codebooks)
    sub = len(sub_codebooks[0][0][1])
    return (
        "array("
        + ", ".join(_pq_code_expr(sub_codebooks[s], s, sub) for s in range(m))
        + ")"
    )


def pq_reconstruct(codes_col, sub_codebooks):
    """array<double> reconstruction: concat of each subspace's coded
    centroid — ``flatten(transform(codes, code → cb_s[code]))`` with
    the codebooks as one literal array-of-array-of-arrays."""
    cb_lit = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cent])
                    for _, cent in sub_cb
                ]
            )
            for sub_cb in sub_codebooks
        ]
    )
    m = len(sub_codebooks)
    return F.flatten(
        F.expr(
            "transform(sequence(0, {m}), s -> element_at(element_at(__cb, s + 1),"
            " element_at(codes, s + 1) + 1))".replace("{m}", str(m - 1))
        )
    ), cb_lit


# ---------------------------------------------------------------------------
# IVFPQ: the two compressions composed (the FAISS IVFPQ architecture) —
# coarse quantizer picks the cell (partition pruning bounds WHICH bytes
# a probe reads), product quantizer compresses the payload (PQ codes
# bound HOW MANY bytes per row). A 100 TB float32 corpus becomes ~3 TB
# of codes, and a probe reads n_probe/n_cells of that.
# ---------------------------------------------------------------------------


def write_ivfpq_store(
    vectors: DataFrame,
    codebook: DataFrame,
    sub_codebooks,
    path: str,
) -> None:
    """Cell-partitioned PQ-CODED vector store of (vec_id, embedding)
    vectors: rows are (vec_id, codes) —
    M small ints, never the raw vector — written ``partitionBy(cell)``.
    One scan computes BOTH quantizations (the coarse argmax-cosine cell
    and the per-subspace argmin-L2 codes), so the build is a single
    pass + partitioned write with no shuffle beyond the write's own
    partitioning.
    """
    cells = _collect_codebook(codebook, "cell", "centroid", "write_ivfpq_store")
    encoded = (
        vectors.select(F.col("vec_id"), F.col("embedding").alias("__v"))
        .withColumn("__vnorm", F.expr(_IVF_VNORM_SQL))
        .select(
            "vec_id",
            F.expr(_pq_codes_expr(sub_codebooks)).alias("codes"),
            F.expr(_ivf_argmax_sql(cells)).alias("cell"),
        )
    )
    encoded.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivfpq_topk(
    spark,
    store_path: str,
    queries: DataFrame,
    codebook: DataFrame,
    sub_codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Top-k over a :func:`write_ivfpq_store` store: probe cells are
    computed driver-side (query set is broadcast-small by contract,
    double folds match the scan-side SQL — same twin convention as
    :func:`ivf_partitioned_topk`), the scan carries a literal
    ``cell IN (…)`` partition-pruning predicate, neighbors are
    RECONSTRUCTED in-projection from their PQ codes (literal
    sub-codebooks), and scoring is asymmetric ADC: raw query vs
    reconstructed neighbor. The probe reads n_probe of n_cells
    partition directories AND only M ints per row — both compression
    axes engaged.
    """
    cells = _collect_codebook(codebook, "cell", "centroid", "ivfpq_topk")
    q, probe_cells = _ivf_probe_queries(spark, queries, cells, id_col, vec_col, n_probe)
    recon_expr, cb_lit = pq_reconstruct(F.col("codes"), sub_codebooks)
    store = (
        spark.read.parquet(store_path)
        .where(F.col("cell").isin(probe_cells))
        .withColumn("__cb", cb_lit)
        .select(id_col, "cell", recon_expr.alias("__recon"))
    )
    cands = (
        _side(store, "neighbor", id_col, "__recon", "cell")
        .join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(cands, k)


def embedding_dq_report(df, vec_col: str = "embedding", dim: int = 64):
    """Vector-column data-quality audit: wrong-dimension, non-finite
    (NaN/Inf), and zero-norm counts plus the finite norm range (6 dp).
    Per-row square-norms fold the array left-to-right (fixed order →
    deterministic, cross-engine identical doubles); every aggregate on
    top is an exact integer count or an order-free MIN/MAX of rounded
    values. One scan, one global aggregate — audit cost is a single
    pass at any corpus size."""
    bad = "x -> isnan(x) OR abs(x) = double('Infinity')"
    per = df.select(
        (F.size(vec_col) != F.lit(dim)).cast("long").alias("wrong_dim"),
        (F.expr(f"size(filter(CAST({vec_col} AS ARRAY<DOUBLE>), {bad})) > 0"))
        .cast("long")
        .alias("nonfinite"),
        F.expr(
            f"aggregate(transform(CAST({vec_col} AS ARRAY<DOUBLE>),"
            " x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("sq"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("wrong_dim").alias("n_wrong_dim"),
        F.sum("nonfinite").alias("n_nonfinite"),
        F.sum(
            ((F.col("nonfinite") == 0) & (F.col("sq") == 0.0)).cast("long")
        ).alias("n_zero_norm"),
        F.round(
            F.min(F.when(F.col("nonfinite") == 0, F.sqrt(F.col("sq")))), 6
        ).alias("min_norm"),
        F.round(
            F.max(F.when(F.col("nonfinite") == 0, F.sqrt(F.col("sq")))), 6
        ).alias("max_norm"),
    )


def lsh_multiprobe_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Multi-probe hyperplane-LSH top-k (Lv et al., VLDB 2007): each
    query probes its own bucket PLUS the ``bits`` Hamming-distance-1
    buckets per table — the most likely homes of near neighbors that
    landed one sign-test away.

    The recall/storage trade this buys at 100 TB: extra probes fan out
    the QUERY side only (query-count × (bits+1) rows — broadcast-sized),
    while the corpus keeps exactly L signatures per vector; recall
    comparable to ~L·(bits+1) tables at the index storage of L. Both
    sides come from :func:`_lsh_sides`, shared with :func:`lsh_topk`;
    only the query side's Hamming-1 fan-out is this function's own.
    """
    v, q0 = _lsh_sides(vectors, queries, id_col, vec_col, dim, bits, tables)
    probe_set = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
    )
    qp = q0.select(
        "query_id",
        "query_vec",
        "__qn",
        "table",
        F.explode(probe_set).alias("bucket"),
    )
    cands = (
        v.join(F.broadcast(qp), ["table", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_rerank(cands, k)
