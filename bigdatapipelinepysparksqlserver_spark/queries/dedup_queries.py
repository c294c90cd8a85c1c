"""Deduplication query surface over the ``documents`` table.

Exact dedup is fully SQL-expressible (hash-groupBy) and oracle-checked.
The MinHash-LSH pipeline uses an engine-portable hash family (md5-prefix
base + affine permutations — operators/dedup.py), so the ENTIRE
candidate→verify pipeline and the downstream connected components are
reproduced in DuckDB SQL and oracle-checked too. The SimHash family is
likewise oracle-checked: its portable md5-prefix token hash makes both
the 120-bit signature table and the Hamming-blocked pair search
replayable in DuckDB bit-for-bit (SIMHASH_PAIRS_SIZED_ORACLE).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    MINHASH_P,
    exact_dedup_groups,
    minhash_affine_constants,
    minhash_near_duplicates,
)
from ..caching import scoped_persist
from ..sources.catalog import Catalog
from .registry import query

# --------------------------------------------------------------------------
# exact dedup: hash-groupBy on full text (scale path: the md5 group key makes
# the shuffle key fixed-width regardless of document size)
# --------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", oracle=DEDUP_EXACT_ORACLE, headline=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping: md5(text) → (canonical doc, count).

    Scale: the shuffle moves (16-byte hash, doc_id) pairs, never document
    bodies; partial aggregation collapses per-partition duplicates before
    the exchange. 100 TB of text shuffles as ~24 bytes/doc.
    """
    docs = Catalog(spark, sf_dir).documents
    return exact_dedup_groups(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# MinHash + LSH near-dup — the 100 TB-scale dedup path. Oracle-checked:
# the portable hash family lets DuckDB replay signatures → bands →
# candidates → exact-Jaccard verify and land on the identical pair list.
# (Band BUCKETING on the Spark side keys by xxhash64 of the band's minhash
# tuple while the oracle keys by the tuple itself — same partition of docs
# into buckets absent a 2^-64 hash collision, which the exact verify would
# have to also pass to matter.)
# --------------------------------------------------------------------------

_MINHASH_NUM, _MINHASH_BANDS, _MINHASH_THRESH = 64, 16, 0.2


def _minhash_cte(num_hashes: int, bands: int, source: str = "documents") -> str:
    """Shared CTE chain computing the verified near-dup pair list in
    DuckDB with the same portable MinHash family as the Spark operator.
    ``source`` is the relation/CTE holding (doc_id, text)."""
    consts = minhash_affine_constants(num_hashes)
    rows = num_hashes // bands
    mh_exprs = ",\n         ".join(
        f"MIN(({a}*hv+{b})%{MINHASH_P}) AS mh{k}" for k, (a, b) in enumerate(consts)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        + "||'_'||".join(f"CAST(mh{b * rows + i} AS VARCHAR)" for i in range(rows))
        + " AS bk FROM sig"
        for b in range(bands)
    )
    return f"""
tok AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM {source}),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM tok, UNNEST(range(1, greatest(len(words) - 1, 1))) AS t(i)
),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hv FROM sh),
sig AS (SELECT doc_id,
         {mh_exprs}
        FROM h GROUP BY doc_id),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
   AND a.doc_id < b.doc_id
),
card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.id1
  JOIN sh s2 ON s2.doc_id = c.id2 AND s1.shingle = s2.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i2.id1, i2.id2,
         ROUND(CAST(i2.i AS DOUBLE) / (c1.n + c2.n - i2.i), 6) AS jaccard
  FROM inter i2
  JOIN card c1 ON i2.id1 = c1.doc_id
  JOIN card c2 ON i2.id2 = c2.doc_id
  WHERE CAST(i2.i AS DOUBLE) / (c1.n + c2.n - i2.i) >= {_MINHASH_THRESH}
)"""


MINHASH_ORACLE = (
    "WITH" + _minhash_cte(_MINHASH_NUM, _MINHASH_BANDS)
    + "\nSELECT id1, id2, jaccard FROM verified"
)


@query("dedup_minhash", oracle=MINHASH_ORACLE, headline=True)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs verified by exact Jaccard.

    shingle → 64 minhashes (portable md5+affine family) → 16 bands of 4 →
    bucket-grouped pair enumeration (groupBy band-hash + collect_list, no
    self-join) → per-pair array-intersection Jaccard on candidate docs
    only. Scale: candidate generation is one shuffle on the band hash and
    verification is candidate-proportional — near-linear for
    non-degenerate data vs the quadratic exact form.
    """
    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    return minhash_near_duplicates(
        docs,
        text_col="text",
        id_col="doc_id",
        threshold=_MINHASH_THRESH,
        num_hashes=_MINHASH_NUM,
        bands=_MINHASH_BANDS,
    )


def _simhash_wide_cte() -> str:
    """CTE chain reproducing the 120-bit wide signature + POLICY-SIZED
    Hamming blocking in DuckDB — one static SF-adaptive string.

    The signature itself never depends on the corpus size (fixed 2×60
    md5-word construction), so only the block extraction is adaptive:
    ``wsel`` recomputes ``recommended_bits(COUNT(*), max_bits=30)``
    with the same FLOOR(x + 0.5) half-away rounding the Python policy
    uses (see operators/similarity.py recommended_bits), and the four
    block values are w-bit slices, two per word — exactly
    ``hamming_neighbors_wide``'s shift/mask layout."""
    sums = ",\n         ".join(
        f"SUM(CASE WHEN ((hv{w} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{w}_{i}"
        for w in (0, 1)
        for i in range(60)
    )
    sigs = {
        w: "\n         + ".join(
            f"(CASE WHEN s{w}_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
        )
        for w in (0, 1)
    }
    return f"""
wtok AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(h, 1, 15)) AS BIGINT) AS hv0,
         CAST(('0x' || substr(h, 16, 15)) AS BIGINT) AS hv1
  FROM (SELECT doc_id, md5(UNNEST(string_split(trim(text), ' '))) AS h
        FROM documents) t
),
wsum AS (SELECT doc_id,
         {sums}
        FROM wtok GROUP BY doc_id),
wsig AS (SELECT doc_id,
         CAST({sigs[0]} AS BIGINT) AS sh0,
         CAST({sigs[1]} AS BIGINT) AS sh1
        FROM wsum),
wsel AS (
  SELECT GREATEST(4, LEAST(30, CAST(FLOOR(LOG2(GREATEST(
           CAST(COUNT(*) AS DOUBLE) / 80.0, 1.0)) + 0.5) AS INT))) AS w
  FROM documents
),
wblocks AS (
  SELECT s.doc_id, s.sh0, s.sh1, t.blk,
         CASE t.blk
           WHEN 0 THEN s.sh0 & ((1::BIGINT << ws.w) - 1)
           WHEN 1 THEN (s.sh0 >> ws.w) & ((1::BIGINT << ws.w) - 1)
           WHEN 2 THEN s.sh1 & ((1::BIGINT << ws.w) - 1)
           ELSE (s.sh1 >> ws.w) & ((1::BIGINT << ws.w) - 1)
         END AS val
  FROM wsig s, wsel ws, UNNEST([0, 1, 2, 3]) AS t(blk)
)"""


SIMHASH_PAIRS_SIZED_ORACLE = (
    "WITH" + _simhash_wide_cte()
    + """,
wcand AS (
  SELECT DISTINCT a.doc_id AS id1, a.sh0 AS h0a, a.sh1 AS h1a,
                  b.doc_id AS id2, b.sh0 AS h0b, b.sh1 AS h1b
  FROM wblocks a JOIN wblocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id1, id2,
       CAST(bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) AS INTEGER)
         AS hamming_distance
FROM wcand
WHERE bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 3"""
)


@query("dedup_simhash_pairs_sized", oracle=SIMHASH_PAIRS_SIZED_ORACLE)
def dedup_simhash_pairs_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3, with
    POLICY-SIZED blocking over the 120-bit wide signature. Fixed 16-bit
    blocks would keep a 2^16 bucket space forever, so candidate pairs
    would grow ~N²/2^16. Here block width =
    ``recommended_bits(N, max_bits=30)`` (one control-plane count),
    growing the bucket space ∝ N out to ~10¹¹ docs; the wide signature
    exists precisely to give the blocks room (see
    ``simhash_signatures_wide``). Verify is the full 120-bit distance,
    so narrower/wider blocks change COST only — the pair set under
    distance ≤ 3 is blocking-width-invariant down to pigeonhole
    recall, and the oracle recomputes the identical width from
    COUNT(*)."""
    from ..operators.dedup import hamming_neighbors_wide, simhash_signatures_wide
    from ..operators.similarity import recommended_bits

    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    w = recommended_bits(docs.count(), max_bits=30)
    sigs = simhash_signatures_wide(docs, text_col="text", id_col="doc_id")
    return hamming_neighbors_wide(
        sigs, id_col="doc_id", max_distance=3, block_bits=w
    )


_INCR_BATCH_SOURCE = "src0"

INCREMENTAL_MINHASH_ORACLE = (
    "WITH" + _minhash_cte(_MINHASH_NUM, _MINHASH_BANDS)
    + f"""
SELECT v.id1, v.id2, v.jaccard FROM verified v
WHERE EXISTS (SELECT 1 FROM documents d
              WHERE d.doc_id = v.id1 AND d.source = '{_INCR_BATCH_SOURCE}')
   OR EXISTS (SELECT 1 FROM documents d
              WHERE d.doc_id = v.id2 AND d.source = '{_INCR_BATCH_SOURCE}')"""
)


@query("dedup_incremental", oracle=INCREMENTAL_MINHASH_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup pairs a NEW batch (source='src0')
    introduces against the existing corpus (the other 19 sources) plus
    within itself — candidate work linear in the BATCH, base-base pairs
    never enumerated (see ``minhash_near_duplicates_incremental``).

    The oracle replays full self-dedup over the whole corpus and
    restricts to pairs touching the batch — LSH candidacy is pairwise,
    so the batch-probe plan computes exactly that restriction without
    the full enumeration.
    """
    from ..operators.dedup import minhash_near_duplicates_incremental

    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    batch = docs.where(F.col("source") == _INCR_BATCH_SOURCE)
    base = docs.where(F.col("source") != _INCR_BATCH_SOURCE)
    return minhash_near_duplicates_incremental(
        base, batch, text_col="text", id_col="doc_id",
        threshold=_MINHASH_THRESH, num_hashes=_MINHASH_NUM,
        bands=_MINHASH_BANDS,
    )


DEDUP_APPLY_ORACLE = (
    """WITH RECURSIVE reps AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM documents GROUP BY md5(text)
),"""
    + _minhash_cte(_MINHASH_NUM, _MINHASH_BANDS, source="reps")
    + """,
edges AS (
  SELECT id1 AS a, id2 AS b FROM verified
  UNION ALL
  SELECT id2, id1 FROM verified
),
cnodes AS (SELECT DISTINCT a AS id FROM edges),
walk(id, lbl) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON w.id = e.a WHERE w.lbl < e.b
),
comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
JOIN reps r ON d.doc_id = r.doc_id
WHERE NOT EXISTS (
  SELECT 1 FROM comp c WHERE c.id = d.doc_id AND c.id != c.component
)"""
)


@query("dedup_apply", oracle=DEDUP_APPLY_ORACLE)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that USES dedup output: the surviving corpus after full
    deduplication — exact-collapse (md5 groups keep their min-id
    canonical), then MinHash near-dup clustering over the distinct
    texts, keeping one canonical doc per cluster. Returns the surviving
    (doc_id, lang, n_chars) rows.

    Scale: exact collapse is one fixed-width-key shuffle; the near-dup
    stages only ever see DISTINCT texts (boilerplate-proof, see
    ``minhash_near_duplicates_collapsed``); the final keep-filter is two
    anti-joins on 8-byte ids (the drop lists are duplicate-count-sized,
    broadcast at realistic dup rates, plain shuffle joins beyond).
    """
    from ..operators.dedup import connected_components_star, minhash_near_duplicates

    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    groups = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("__h")).agg(
        F.min("doc_id").alias("doc_id"), F.min("text").alias("text")
    )
    reps = scoped_persist(groups.select("doc_id", "text"))
    pairs = minhash_near_duplicates(
        reps, text_col="text", id_col="doc_id",
        threshold=_MINHASH_THRESH, num_hashes=_MINHASH_NUM, bands=_MINHASH_BANDS,
    )
    comp = connected_components_star(pairs)
    drop_cluster_members = comp.where(
        F.col("doc_id") != F.col("component")
    ).select("doc_id")
    return (
        docs.select("doc_id", "lang", "n_chars")
        .join(reps.select("doc_id"), "doc_id", "left_semi")
        .join(drop_cluster_members, "doc_id", "left_anti")
    )
