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
    ngram_shingles,
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
# word n-gram Jaccard near-dup (exact, SQL-expressible) — the quadratic
# baseline the MinHash variant approximates; threshold keeps output small
# --------------------------------------------------------------------------

NGRAM_JACCARD_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM tok, UNNEST(range(1, greatest(len(words) - 1, 1))) AS t(i)
),
card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id1, p.id2,
       ROUND(CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter), 6) AS jaccard
FROM pair p
JOIN card c1 ON p.id1 = c1.doc_id
JOIN card c2 ON p.id2 = c2.doc_id
WHERE CAST(p.inter AS DOUBLE) / (c1.n + c2.n - p.inter) >= 0.2
"""


# exact-baseline pair budget: well above every local SF's estimate (sf0.1
# measures ~5.6 M shingle-bucket pairs) and well below anything a single
# rehearsal machine should expand — at sf10 the estimate crosses it and
# the baseline fails fast with the scale path's name (pytest-asserted),
# which is the "contractually bounded" ledger entry for the quadratic baseline
EXACT_PAIR_BUDGET = 50_000_000


@query("dedup_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity pairs above a threshold.

    Scale: the PAIR COUNT is inherently quadratic in docs sharing a
    shingle — this is the correctness baseline; ``dedup_minhash`` is the
    near-linear scale path. The shuffle plan is not quadratic though:
    intersection sizes come from bucket-grouped pair enumeration (one
    shuffle on the shingle, in-bucket expansion with the shared
    mega-bucket guard) instead of a shingle-equality self-join, which
    would scan and shuffle the shingle relation twice. A pre-flight
    pair-budget guard (``pair_budget_guard``) makes the quadratic cost
    contractual: past ``EXACT_PAIR_BUDGET`` estimated pairs the query
    raises with guidance instead of running.
    """
    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    # persist: the shingle relation now has three consumers (the eager
    # guard aggregate, per-doc cardinalities, and the enumeration) — the
    # guard's action materializes the cache the other two reuse
    sh = scoped_persist(
        ngram_shingles(docs, text_col="text", id_col="doc_id", n=3)
        .select("doc_id", "shingle")
        .distinct()
    )
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    from ..operators.dedup import grouped_pair_enumeration, pair_budget_guard

    pair_budget_guard(
        sh, ["shingle"], EXACT_PAIR_BUDGET,
        "dedup_minhash (bucketed MinHash-LSH, measured 2.8x wall at 100x data)",
    )

    inter = (
        grouped_pair_enumeration(sh, ["shingle"], "doc_id")
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        inter.join(card.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1")), "id1")
        .join(card.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2")), "id2")
        .where(jac >= 0.2)
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
    )


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


# --------------------------------------------------------------------------
# quality-aware dedup retention: keep the BEST member per duplicate
# cluster, not an arbitrary one — the policy real curation pipelines
# run (the canonical copy should be the cleanest, not the lowest id)
# --------------------------------------------------------------------------

_QUALITY_SQL = r"""ROUND(
      0.4 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE))
    + 0.3 * (CAST(len(regexp_extract_all(lower(text),
                 '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS DOUBLE)
             / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+')) END
                    AS DOUBLE))
    + 0.3 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS DOUBLE) / 64.0, 1.0)
    , 6)"""

DEDUP_KEEP_BEST_ORACLE = (
    f"""WITH RECURSIVE qs AS (
  SELECT doc_id, {_QUALITY_SQL} AS quality_score FROM documents
),
g AS (SELECT doc_id, md5(text) AS gh FROM documents),
reps AS (
  SELECT md5(text) AS gh, MIN(doc_id) AS doc_id, MIN(text) AS text
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
comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id),
rc AS (
  SELECT r.gh, COALESCE(c.component, r.doc_id) AS cluster
  FROM reps r LEFT JOIN comp c ON c.id = r.doc_id
),
member AS (
  SELECT g.doc_id, rc.cluster FROM g JOIN rc USING (gh)
),
ranked AS (
  SELECT m.doc_id, m.cluster, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY m.cluster
                            ORDER BY q.quality_score DESC, m.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY m.cluster) AS n_members
  FROM member m JOIN qs q USING (doc_id)
)
SELECT doc_id, cluster, CAST(n_members AS BIGINT) AS n_members,
       quality_score
FROM ranked WHERE rn = 1"""
)


@query("dedup_keep_best", oracle=DEDUP_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention: the full duplicate clusters
    (exact md5 groups ∪ MinHash near-dup components over their reps —
    the same machinery `dedup_apply` keeps min-ids from) keep their
    HIGHEST-`quality_score` member instead (tie → lowest doc_id) — the
    policy production curation actually wants: when a document exists
    in several near-identical copies, the canonical one should be the
    cleanest, not an accident of id order. Returns one row per
    surviving doc: (doc_id, cluster, n_members, quality_score).

    Cross-engine determinism: the quality score is the graded
    `text_quality_score` formula (6-dp pinned), so ORDER BY on it ties
    out bit-for-bit; cluster labels are min-label components over the
    portable MinHash pair list.

    Scale: quality is a scan-side projection; the cluster machinery is
    dedup_apply's (fixed-width-key shuffles, distinct-text LSH); the
    retention pick is ONE cluster-partitioned window — row_number ≤ 1
    lowers to WindowGroupLimit (per-partition top-1 below the
    exchange), with the member count riding the same shuffle.
    """
    from pyspark.sql import Window

    from ..operators.dedup import connected_components_star
    from ..operators.text import quality_scores

    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    q = quality_scores(docs, text_col="text", id_col="doc_id").select(
        "doc_id", "quality_score"
    )
    gh = F.md5(F.col("text").cast("binary"))
    groups = docs.groupBy(gh.alias("__gh")).agg(
        F.min("doc_id").alias("doc_id"), F.min("text").alias("text")
    )
    reps = scoped_persist(groups.select("__gh", "doc_id", "text"))
    pairs = minhash_near_duplicates(
        reps.select("doc_id", "text"), text_col="text", id_col="doc_id",
        threshold=_MINHASH_THRESH, num_hashes=_MINHASH_NUM,
        bands=_MINHASH_BANDS,
    )
    comp = connected_components_star(pairs)
    rc = reps.select("__gh", "doc_id").join(comp, "doc_id", "left").select(
        "__gh", F.coalesce("component", "doc_id").alias("cluster")
    )
    member = (
        docs.select("doc_id", gh.alias("__gh"))
        .join(rc, "__gh")
        .select("doc_id", "cluster")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    ranked = (
        member.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster")),
        )
    )
    return ranked.where(F.col("rn") == 1).select(
        "doc_id", "cluster", F.col("n_members").cast("long").alias("n_members"),
        "quality_score",
    )


# --------------------------------------------------------------------------
# prefix-filtered set-similarity join (PPJoin-style candidate generation)
# --------------------------------------------------------------------------

JACCARD_PREFIX_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS s
  FROM tok, UNNEST(range(1, greatest(len(words) - 1, 1))) AS t(i)
),
card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s,
         ROW_NUMBER() OVER (
           PARTITION BY sh.doc_id ORDER BY dfreq.df, sh.s
         ) AS rnk,
         COUNT(*) OVER (PARTITION BY sh.doc_id) AS sz
  FROM sh JOIN dfreq USING (s)
),
prefix AS (
  SELECT doc_id, s FROM ranked
  WHERE rnk <= sz - ((3 * sz + 4) // 5) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id1, c.id2, COUNT(*) AS o
  FROM cand c
  JOIN sh ta ON ta.doc_id = c.id1
  JOIN sh tb ON tb.doc_id = c.id2 AND tb.s = ta.s
  GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2,
       ROUND(CAST(o AS DOUBLE) / CAST(c1.n + c2.n - o AS DOUBLE), 6)
         AS jaccard
FROM inter i
JOIN card c1 ON c1.doc_id = i.id1
JOIN card c2 ON c2.doc_id = i.id2
WHERE 8 * o >= 3 * (c1.n + c2.n)
"""


@query("dedup_jaccard_prefix", oracle=JACCARD_PREFIX_ORACLE)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard ≥ 0.6 pairs via PREFIX FILTERING — the
    lossless candidate pruning of the PPJoin family, and the exact-answer
    scale path between the quadratic share-a-shingle baseline
    (``dedup_ngram_jaccard``) and the approximate MinHash-LSH path.

    Principle: order every doc's shingles by ascending global document
    frequency (ties by shingle); any pair with Jaccard ≥ τ MUST share a
    token inside each doc's first |T| − ⌈τ·|T|⌉ + 1 shingles, so joining
    on PREFIX shingles only is lossless while skipping the stopword-like
    high-df shingles that generate almost all share-a-shingle pairs
    (measured at sf0.01: 165 candidates vs 11 533 — 70× fewer, same 25
    final pairs). ⌈3n/5⌉ is computed as (3n+4) div 5 — pure integers,
    never float ceil (0.6·n carries ulp error that can shorten the
    prefix and break losslessness); the τ-test is the exact integer
    form 8·o ≥ 3·(n₁+n₂) ⇔ o/(n₁+n₂−o) ≥ 3/5… with o, n exact counts.

    Scale: df ordering is one shingle-keyed aggregate; per-doc ranks one
    doc-keyed window (frame bounded by doc length); candidates come from
    bucket-grouped enumeration over RARE-by-construction prefix shingles
    (mega-bucket guarded); the verify is candidate-proportional. All
    shuffles key on shingles or doc ids — no corpus-sized quadratic
    stage, unlike the baseline this replaces.
    """
    docs = Catalog(spark, sf_dir).parallel_table("documents", "doc_id")
    sh = scoped_persist(
        ngram_shingles(docs, text_col="text", id_col="doc_id", n=3)
        .select("doc_id", "shingle")
        .distinct()
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # prefix via doc-LOCAL array sort: collect each doc's (df, shingle)
    # structs on the one doc_id shuffle, array_sort (struct field order
    # = the (df, shingle) rank order), slice to n − ⌈3n/5⌉ + 1, explode.
    # Measured against the row_number() window form at the 100× point
    # (both directions, per the khop lesson): the
    # window form pays a full range-partition sort of the 65 M-row
    # shingle⋈df relation plus a doc-keyed exchange behind it; the
    # in-row form sorts ≤ doc-length arrays on the same shuffle that
    # already builds per-doc state — 177 s → measured below at 100×.
    prefix = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("arr")
        )
        .select(
            "doc_id",
            F.explode(
                F.slice(
                    "arr",
                    1,
                    F.expr(
                        "size(arr) - (3 * size(arr) + 4) div 5 + 1"
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.shingle").alias("shingle"))
    )

    from ..operators.dedup import grouped_pair_enumeration

    # persist: two consumers (the id prune and the final pair join)
    cand = scoped_persist(
        grouped_pair_enumeration(prefix, ["shingle"], "doc_id").distinct()
    )
    # LeftSemi candidate-doc prune BEFORE building shingle arrays (the
    # minhash-verify convention): only docs that appear in a candidate
    # pair pay the collect_list, so the arrays relation is
    # candidate-sized, never corpus-sized — without it the planner must
    # hash/broadcast a corpus-wide array table (OOM'd at the 100× point).
    cand_ids = (
        cand.select(F.col("id1").alias("doc_id"))
        .unionByName(cand.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    arrs = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("shingle")).alias("arr"))
    )
    s1 = arrs.select(F.col("doc_id").alias("id1"), F.col("arr").alias("a1"))
    s2 = arrs.select(F.col("doc_id").alias("id2"), F.col("arr").alias("a2"))
    o = F.size(F.array_intersect("a1", "a2"))
    n1, n2 = F.size("a1"), F.size("a2")
    jac = o.cast("double") / (n1 + n2 - o).cast("double")
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .where(F.lit(8) * o >= F.lit(3) * (n1 + n2))
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
    )
