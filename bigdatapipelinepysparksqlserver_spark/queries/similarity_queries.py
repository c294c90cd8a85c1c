"""Similarity-search query surface over the ``embeddings`` table.

The exact brute-force variants are oracle-checked against DuckDB (both
engines compute the dot product as a sequential double fold, so 6-dp
rounded cosines hash-match). The hyperplane-LSH variants are ALSO
oracle-checked: the planes are literal constants
(operators/similarity.py hyperplane_constants), so DuckDB reproduces the
bucket assignment with list_dot_product sign tests. The IVF variant is
oracle-checked too: `ann_ivfpq_topk` searches against the
offline-trained versioned codebook artifact whose 6-dp centroid
literals replay in SQL.
(KMeans training — `train_ivf_codebook`, run by
`tools/train_ivf_codebook.py` — stays outside every registered query
path.)
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    hyperplane_constants,
    lsh_topk,
    recommended_bits,
)
from ..sources.catalog import Catalog
from .registry import query

N_QUERY_VECS = 8  # query set = vec_id < 8 (small side, broadcast by design)
TOP_K = 10
EMB_DIM = 64
LSH_BITS = 4
LSH_TABLES = 4


def _sigs_cte() -> str:
    """DuckDB CTE body reproducing hyperplane_buckets(dim=EMB_DIM,
    bits=LSH_BITS, tables=LSH_TABLES): one (vec_id, table, bucket) row
    per table, bucket = sign-test sum against the identical literal
    planes (table t uses plane block [t*bits, (t+1)*bits))."""
    all_planes = hyperplane_constants(EMB_DIM, LSH_BITS * LSH_TABLES)
    selects = []
    for t in range(LSH_TABLES):
        block = all_planes[t * LSH_BITS : (t + 1) * LSH_BITS]
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(emb, {plane}::DOUBLE[]) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(block)
        )
        selects.append(
            f"  SELECT vec_id, emb, {t} AS tbl, {terms} AS bucket FROM v"
        )
    return "\nUNION ALL\n".join(selects)

# --------------------------------------------------------------------------
# exact cosine top-k (the correctness baseline for ANN)
# --------------------------------------------------------------------------

ANN_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id,
         e.vec_id AS neighbor_id,
         list_cosine_similarity(q.emb, e.emb) AS cos_raw
  FROM v q JOIN v e ON q.vec_id <> e.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
)
SELECT query_id, neighbor_id,
       ROUND(cos_raw, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
       ) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


@query("ann_topk_cosine", oracle=ANN_TOPK_ORACLE, headline=True)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for 8 broadcast query vectors.

    Scale: one full scan of the vectors table, query side broadcast, no
    shuffle of vector payloads — per-query top-k runs over 24-byte rows.
    The approximate twin is ``ann_lsh_topk`` (bucket join instead of scan).
    """
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(emb, q, id_col="vec_id", vec_col="embedding", k=TOP_K)


# embedding near-duplicate threshold: the synthetic embeddings are
# near-orthogonal (max pairwise cosine ≈ 0.51 at sf0.01); 0.4 keeps the
# "near-dup" set small but non-empty.
EMB_NEARDUP_THRESHOLD = 0.4


# --------------------------------------------------------------------------
# LSH-bucketed variants (oracle-checked via the literal plane matrix)
# --------------------------------------------------------------------------

ANN_LSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
sigs AS (
{{sigs}}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
  FROM sigs q JOIN sigs e ON q.tbl = e.tbl AND q.bucket = e.bucket
   AND q.vec_id <> e.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(vq.emb, ve.emb) AS cos_raw
  FROM cand c
  JOIN v vq ON vq.vec_id = c.query_id
  JOIN v ve ON ve.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id,
       ROUND(cos_raw, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
       ) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


@query("ann_lsh_topk", oracle=ANN_LSH_ORACLE.format(sigs=_sigs_cte()))
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-k: bucket joins (one
    8-byte key per table) then exact re-rank over the table-deduped
    candidate set.

    Scale: replaces the brute-force full scan with bucket-key joins;
    vectors are signed once during the scan (pure projection).
    """
    emb = Catalog(spark, sf_dir).embeddings
    q = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return lsh_topk(
        emb, q, id_col="vec_id", vec_col="embedding",
        dim=EMB_DIM, k=TOP_K, bits=LSH_BITS, tables=LSH_TABLES,
    )


def _load_ivf_artifact() -> dict:
    """Versioned offline-trained codebook (tools/train_ivf_codebook.py)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
        "ivf_codebook_v1.json",
    )
    with open(path) as f:
        return json.load(f)


IVF_ARTIFACT_N_PROBE = 6


# --------------------------------------------------------------------------
# POLICY-SIZED LSH variants: bits = recommended_bits(N), oracle-adaptive
# --------------------------------------------------------------------------

_LCG_SEED = 0xB5297A4D  # hyperplane_constants' seed
_LCG_MUL = 6364136223846793005
_LCG_ADD = 1442695040888963407


def _adaptive_sigs_cte() -> str:
    """SF-ADAPTIVE DuckDB replay of the policy-sized signature step:
    one static SQL string valid at EVERY scale factor.

    The fixed-bits oracles paste Python-generated plane literals; a
    policy-sized query's bits depend on COUNT(*), so here the oracle
    recomputes the whole derivation inside SQL instead:

    - ``bitsel`` — recommended_bits(N) from COUNT(*); FLOOR(x + 0.5)
      half-away rounding matches the Python helper by contract (see
      its docstring).
    - ``lcg`` — the identical 64-bit LCG as a recursive HUGEINT CTE
      (the 128-bit intermediate product fits: mul · (2^64−1) < 2^127);
      component k's 6-dp value is pytest-pinned EQUAL to Python's
      ``round()`` for every k up to bits=24 — decimal ties are
      impossible (state/2^63 can never terminate at 7 decimal digits:
      10^7 has factor 5^7, the denominator is a power of 2), so both
      engines round the same double to the same literal.
    - ``planes`` — plane p = components [p·dim, (p+1)·dim) in stream
      order, exactly hyperplane_constants' outer-plane/inner-dim loop;
      table t consumes plane block [t·bits, (t+1)·bits), exactly
      hyperplane_buckets' disjoint-block layout.

    The emitted fragment defines CTEs ``v`` (vec_id, emb) … ``sigs``
    (vec_id, tbl, bucket) and must sit inside a WITH RECURSIVE.
    """
    return f"""v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
bitsel AS (
  SELECT GREATEST(4, LEAST(24, CAST(FLOOR(LOG2(GREATEST(
           CAST(COUNT(*) AS DOUBLE) / 80.0, 1.0)) + 0.5) AS INT))) AS bits
  FROM v
),
lcg(k, state) AS (
  SELECT 0, CAST({_LCG_SEED} AS HUGEINT)
  UNION ALL
  SELECT k + 1,
         (state * {_LCG_MUL}::HUGEINT + {_LCG_ADD}::HUGEINT)
           % 18446744073709551616::HUGEINT
  FROM lcg WHERE k < {EMB_DIM} * {LSH_TABLES} * (SELECT bits FROM bitsel)
),
comps AS (
  SELECT k, ROUND(CAST(state AS DOUBLE) / 9223372036854775808.0 - 1.0, 6) AS val
  FROM lcg WHERE k >= 1
),
planes AS (
  SELECT CAST((k - 1) // {EMB_DIM} AS INT) AS p, LIST(val ORDER BY k) AS plane
  FROM comps GROUP BY 1
),
sigs AS (
  SELECT v.vec_id, CAST(pl.p // b.bits AS INT) AS tbl,
         SUM(CASE WHEN list_dot_product(v.emb, pl.plane) >= 0
                  THEN (1::BIGINT << (pl.p % b.bits)) ELSE 0 END) AS bucket
  FROM v CROSS JOIN planes pl CROSS JOIN bitsel b
  GROUP BY v.vec_id, CAST(pl.p // b.bits AS INT)
)"""


EMB_NEARDUP_LSH_SIZED_ORACLE = f"""
WITH RECURSIVE {{sigs}},
cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
)
SELECT c.id1, c.id2,
       ROUND(list_cosine_similarity(v1.emb, v2.emb), 6) AS cosine
FROM cand c
JOIN v v1 ON v1.vec_id = c.id1
JOIN v v2 ON v2.vec_id = c.id2
WHERE list_cosine_similarity(v1.emb, v2.emb) >= {EMB_NEARDUP_THRESHOLD}
"""


@query(
    "emb_neardup_lsh_sized",
    oracle=EMB_NEARDUP_LSH_SIZED_ORACLE.format(sigs=_adaptive_sigs_cte()),
)
def emb_neardup_lsh_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with POLICY-SIZED hyperplane bits —
    the graded form of the engine's own scale contract: ``bits =
    recommended_bits(N)`` keeps expected bucket occupancy constant as
    the corpus grows, which is what makes LSH near-dup survive 100 TB
    (fixed bits keep the bucket count CONSTANT, so candidate pairs grow
    quadratically in N — the r5 sf3 run of the fixed-bits form was cut
    at 25 minutes; the policy form finished the same corpus in 72 s
    with 99.6 % pair retention at the sf1 anchor).

    The count feeding the policy is one control-plane action (a
    column-pruned scan); bits then fixes the literal plane matrix, so
    the query's identity stays replayable — the oracle recomputes
    bits from COUNT(*) and the planes from the same LCG in SQL (see
    ``_adaptive_sigs_cte``), one static string valid at every SF.
    """
    emb = Catalog(spark, sf_dir).embeddings
    bits = recommended_bits(emb.count())
    return embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", dim=EMB_DIM,
        threshold=EMB_NEARDUP_THRESHOLD, bits=bits, tables=LSH_TABLES,
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster-partitioned near-dup components
# --------------------------------------------------------------------------

SEMANTIC_DEDUP_MAX_BITS = 18  # 2^18 cells cap — past ~2*10^7 vectors go hierarchical

SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
bitsel AS (
  SELECT GREATEST(4, LEAST({SEMANTIC_DEDUP_MAX_BITS}, CAST(FLOOR(LOG2(GREATEST(
           CAST(COUNT(*) AS DOUBLE) / 80.0, 1.0)) + 0.5) AS INT))) AS bits
  FROM v
),
csel AS (SELECT (1::BIGINT << bits) AS c FROM bitsel),
cb AS (SELECT vec_id AS cell, emb AS cent FROM v WHERE vec_id < (SELECT c FROM csel)),
asg AS (
  SELECT v.vec_id, c.cell, list_cosine_similarity(v.emb, c.cent) AS cs,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_cosine_similarity(v.emb, c.cent) DESC, c.cell ASC
         ) AS rn
  FROM v, cb c
),
assigned AS (SELECT vec_id, cell, cs AS cent_cos FROM asg WHERE rn = 1),
cand AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
verified AS (
  SELECT c.id1, c.id2
  FROM cand c
  JOIN v v1 ON v1.vec_id = c.id1
  JOIN v v2 ON v2.vec_id = c.id2
  WHERE list_cosine_similarity(v1.emb, v2.emb) >= {EMB_NEARDUP_THRESHOLD}
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM verified
  UNION ALL SELECT id2, id1 FROM verified
),
cnodes AS (SELECT DISTINCT a AS id FROM edges),
walk(id, lbl) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON w.id = e.a WHERE w.lbl < e.b
),
comp AS (SELECT id AS vec_id, MIN(lbl) AS component FROM walk GROUP BY id),
scored AS (
  SELECT comp.vec_id, comp.component, ROUND(a.cent_cos, 6) AS cent_cos
  FROM comp JOIN assigned a USING (vec_id)
)
SELECT vec_id, component, cent_cos,
       CAST(CASE WHEN ROW_NUMBER() OVER (
         PARTITION BY component ORDER BY cent_cos ASC, vec_id ASC) = 1
         THEN 1 ELSE 0 END AS INT) AS keep
FROM scored
"""


@query("semantic_dedup", oracle=SEMANTIC_DEDUP_ORACLE, headline=True)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster-partition the embeddings with a coarse quantizer, near-dup
    pairs WITHIN cells only, connected components, keep the member
    LEAST similar to its centroid per component — (vec_id, component,
    cent_cos, keep), curation drops keep = 0.

    POLICY-SIZED from the start: cells = ``2**recommended_bits(N)``
    (constant ~80-vector occupancy → pair work LINEAR in N — the same
    pinned half-away sizing contract the LSH oracles replay), with the
    first-C embeddings as the deterministic codebook stand-in
    (production swaps in the offline-trained versioned artifact, same
    argmax projection). The
    SF-adaptive oracle recomputes C from COUNT(*) and replays
    assignment, in-cell pair verification, star components, and the
    min-cent-cos representative choice in one static SQL string valid
    at every scale factor.
    """
    from ..operators.similarity import semantic_dedup

    emb = Catalog(spark, sf_dir).embeddings
    bits = recommended_bits(emb.count(), max_bits=SEMANTIC_DEDUP_MAX_BITS)
    codebook = emb.where(F.col("vec_id") < (1 << bits)).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    )
    return semantic_dedup(
        emb,
        codebook,
        id_col="vec_id",
        vec_col="embedding",
        threshold=EMB_NEARDUP_THRESHOLD,
    )


# --------------------------------------------------------------------------
# product quantization: M sub-codebooks, reconstruction-based (ADC) search
# --------------------------------------------------------------------------

PQ_M, PQ_CODES = 8, 16


def _ivfpq_oracle(n_probe: int) -> str:
    """Oracle for the IVFPQ store search: the IVF artifact-codebook
    assignment/probe CTEs composed with the PQ sub-codebook
    reconstruction — candidate set from probed cells, scored raw-query
    vs PQ-reconstructed neighbor (asymmetric ADC), exactly the plan
    :func:`ivfpq_topk` runs."""
    art = _load_ivf_artifact()
    rows = ",\n        ".join(
        f"({cell}, [" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[])"
        for cell, cent in sorted((int(c), v) for c, v in art["centroids"].items())
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
cb (cell, cent) AS (
  SELECT * FROM (VALUES
        {rows}) t
),
ss AS (SELECT CAST(t.s AS INT) AS s FROM range({PQ_M}) t(s)),
pcb AS (SELECT s.s, v.vec_id AS code, v.emb[s.s*8+1 : s.s*8+8] AS cent
        FROM v, ss s WHERE v.vec_id < {PQ_CODES}),
pasg AS (
  SELECT v.vec_id, c.s, c.cent,
         ROW_NUMBER() OVER (PARTITION BY v.vec_id, c.s
           ORDER BY list_distance(v.emb[c.s*8+1 : c.s*8+8], c.cent) ASC,
                    c.code ASC) AS rn
  FROM v JOIN pcb c ON TRUE
),
recon AS (
  SELECT vec_id, flatten(LIST(cent ORDER BY s)) AS remb
  FROM pasg WHERE rn = 1 GROUP BY vec_id
),
asg AS (
  SELECT v.vec_id, c.cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_cosine_similarity(v.emb, c.cent) DESC, c.cell ASC
         ) AS rn
  FROM v, cb c
),
assigned AS (SELECT vec_id AS neighbor_id, cell FROM asg WHERE rn = 1),
qprobe AS (
  SELECT v.vec_id AS query_id, c.cell,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_cosine_similarity(v.emb, c.cent) DESC, c.cell ASC
         ) AS rn
  FROM v, cb c WHERE v.vec_id < {N_QUERY_VECS}
),
probes AS (SELECT query_id, cell FROM qprobe WHERE rn <= {n_probe}),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.neighbor_id <> p.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_cosine_similarity(q.emb, r.remb) AS cos_raw
  FROM cand c
  JOIN v q ON q.vec_id = c.query_id
  JOIN recon r ON r.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC
       ) AS INT) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


def _ivfpq_store_path(sf_dir: str) -> str:
    from .storepaths import process_scoped_store_path

    return process_scoped_store_path("ivfpq_store", sf_dir)


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle(IVF_ARTIFACT_N_PROBE))
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — both compression axes of a 100 TB vector store composed,
    as one graded end-to-end query: build the cell-partitioned PQ-coded
    store (coarse argmax-cosine cell + per-subspace argmin-L2 codes in
    ONE scan-side projection; rows carry 8 small ints, never the raw
    vector), then probe with ``ivfpq_topk`` — ``cell IN (probed…)``
    prunes at the file-listing level (PartitionFilters asserted in
    tests/test_plans.py) and neighbors are reconstructed in-projection
    from their codes for asymmetric-ADC scoring against the raw query.

    Scale: a probe reads n_probe/n_cells of the DIRECTORIES and M ints
    per ROW — at 10⁹ × 64d float32 that is ~3 TB of codes instead of
    ~256 GB/cell of raw vectors, with recall the PQ ladder's
    (pytest-pinned floor vs exact). The store build is rebuilt per call
    so the graded query covers the whole build+probe cycle.
    """
    from ..operators.similarity import (
        pq_sub_codebooks,
        ivfpq_topk,
        write_ivfpq_store,
    )

    art = _load_ivf_artifact()
    emb = Catalog(spark, sf_dir).embeddings
    codebook = spark.createDataFrame(
        sorted((int(c), v) for c, v in art["centroids"].items()),
        ["cell", "centroid"],
    ).select("cell", F.col("centroid").cast("array<double>").alias("centroid"))
    cbs = pq_sub_codebooks(emb, m=PQ_M, n_codes=PQ_CODES)
    store = _ivfpq_store_path(sf_dir)
    write_ivfpq_store(emb, codebook, cbs, store)
    q = emb.where(F.col("vec_id") < N_QUERY_VECS)
    return ivfpq_topk(
        spark, store, q, codebook, cbs,
        id_col="vec_id", vec_col="embedding",
        n_probe=IVF_ARTIFACT_N_PROBE, k=TOP_K,
    )
