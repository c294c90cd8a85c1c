"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

All pure DataFrame/Catalyst expressions (xxhash64, transform, explode) —
no per-document Python UDFs, so the whole pipeline stays inside
whole-stage codegen and Tungsten. The one Python pass is the per-partition
union-find in ``connected_components_star``, which reads only the (small)
verified pair list. These are the LLM-training-data dedup primitives
designed for 100 TB corpora: every shuffle key is a fixed-width hash,
never a document body.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..caching import (
    scoped_local_checkpoint,
    scoped_persist,
    scoped_release,
    tracked_local_checkpoint,
)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups keyed by md5(text).

    Scale: shuffle payload is (hash16B, id8B) per doc; map-side partial agg
    collapses same-partition dups before the exchange.
    """
    return df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def ngram_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Explode each document into word n-gram shingles (id, shingle).

    Single-space tokenization (mirrors the DuckDB oracle's string_split);
    documents with < n words produce no shingles.

    The split is PROJECTED to a column before the transform lambda: HOF
    lambda bodies are interpreted with no common-subexpression
    elimination, so an inlined ``split(...)`` expression would re-split
    the document once per ``element_at`` — n re-splits per shingle,
    measured ~10× slower at n=8. A bound column reference is O(1).

    Built as one ``F.expr`` string: the Python-lambda HOF form costs
    dozens of Py4J round-trips per plan build (construction latency was
    measured to DOMINATE this operator's warm wall time — ~1.3 s of the
    2.2 s total was driver-side Column construction, not execution).
    """
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(__words, i + {k + 1})" for k in range(n)
    ) + ")"
    shingles = (
        f"CASE WHEN size(__words) >= {n} THEN "
        f"transform(sequence(0, size(__words) - {n}), i -> {gram}) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), " ").alias("__words")
    ).select(F.col(id_col), F.explode(F.expr(shingles)).alias("shingle"))


# Engine-portable MinHash family: base(s) = first 8 hex chars of md5(s)
# as an integer in [0, 2^32) — computable identically in Spark
# (conv(substring(md5(s),1,8),16,10)) and DuckDB
# (CAST('0x'||substr(md5(s),1,8) AS BIGINT)) — then permutation k is the
# affine map (a_k·base + b_k) mod P over the Mersenne prime P = 2^31−1.
# a_k ≤ P−1 and base < 2^32 keep a_k·base + b_k < 2^63: exact BIGINT
# arithmetic on both engines, no overflow, no engine-specific hash.
MINHASH_P = (1 << 31) - 1


def minhash_affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) pairs from a fixed-seed 64-bit LCG —
    literal constants, identical in the Spark plan and the oracle SQL."""
    p = MINHASH_P
    state = 0x5DEECE66D
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = state % (p - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % p
        out.append((a, b))
    return out


def minhash_signatures(
    shingled: DataFrame, id_col: str, num_hashes: int = 64
) -> DataFrame:
    """num_hashes MinHash values per doc from (id, shingle) pairs.

    The variable-length shingle string is hashed ONCE (md5 → 32-bit
    base), then each permutation is a two-multiply affine map over that
    fixed-width value — cheaper than re-hashing the string per
    permutation, and (unlike the earlier xxhash64 family) reproducible
    outside the JVM, which is what makes the LSH pipeline
    oracle-checkable in DuckDB. One shuffle (groupBy id) computes all
    signatures via map-side partial MIN.

    A map-only array formulation (transform + array_min per permutation)
    was benchmarked and REJECTED: Spark's higher-order functions are
    interpreted, not codegen'd, so it costs more CPU than this form saves
    in shuffle — and the shuffle here is already doc-cardinality thanks to
    partial aggregation.
    """
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    hashed = shingled.withColumn("__hb", base)
    # one F.expr per aggregate (JVM-side parse), not Column arithmetic:
    # 64 Python-built min((a*hb+b)%P) Columns cost ~500 Py4J round-trips
    # (~0.7 s) per plan build — measured as the largest single
    # contributor to this operator's warm wall time.
    mins = [
        F.expr(f"min(({a}L * __hb + {b}L) % {MINHASH_P}L)").alias(f"mh{k}")
        for k, (a, b) in enumerate(minhash_affine_constants(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*mins)


class PairBudgetExceeded(RuntimeError):
    """An exact (deliberately quadratic) baseline refused to run because
    its pre-flight pair estimate exceeds the caller's budget — the
    contractual bound that keeps the baselines from silently consuming a
    cluster at scale. The message names the near-linear scale path to
    use instead."""


def pair_budget_guard(
    keyed: DataFrame,
    bucket_cols: list[str],
    budget: int,
    scale_path: str,
) -> int:
    """Pre-flight for bucket-grouped pair enumeration: exact expected
    pair count Σ_buckets c·(c−1)/2 from ONE groupBy-count aggregate
    (24-byte rows, map-side combined — the same shuffle key the
    enumeration itself uses, so the check costs a small fraction of the
    work it may veto). Returns the estimate; raises
    :class:`PairBudgetExceeded` with guidance when it exceeds
    ``budget``.

    The per-bucket term aggregates as DECIMAL(38,0) (c·(c−1), halved in
    exact integer arithmetic on the driver) rather than SQL ``/ 2`` —
    double division would accumulate the SUM as DOUBLE and lose integer
    exactness past 2^53 pairs, making the returned count and the budget
    comparison approximate exactly where the guard matters most.

    This is how a pair enumeration stays safe to run at any scale:
    below budget it runs; above it it fails fast with the scale path's
    name instead of stalling a 1000-executor cluster on an N²
    expansion.
    """
    twice = (
        keyed.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).alias("p2"))
        .first()["p2"]
    )
    est = int(twice or 0) // 2
    if est > budget:
        raise PairBudgetExceeded(
            f"estimated {est:,} candidate pairs exceeds the {budget:,} pair"
            f" budget for an exact-baseline run — use the near-linear scale"
            f" path instead: {scale_path}"
        )
    return est


def grouped_pair_enumeration(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Enumerate (id1 < id2) co-occurrence pairs per bucket — one row per
    (bucket, pair) — with the two-tier mega-bucket guard.

    Input: (bucket_cols..., id) rows. One (bucket) shuffle builds the
    bucket table (persisted: multiple consumers, and upstream subtrees
    with HOF lambdas defeat exchange reuse); buckets ≤ ``bucket_cap``
    expand pairs in-row, larger ones re-explode into a distributed
    bucket-keyed self-join so no single task materializes a quadratic
    expansion. Consumers dedup (LSH candidates) or count (exact
    intersection sizes) downstream.
    """
    # persist: two consumers (small/big branch) — the operator returns a
    # LAZY plan over both branches, so it cannot unpersist eagerly.
    # Lifecycle is owned by the caching scope (caching.py): the harness
    # calls release_caches() after materializing the consuming query,
    # keeping memory flat across repeated invocations in one session.
    buckets_all = scoped_persist(
        keyed.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    buckets = buckets_all.where(F.size("ids") <= bucket_cap)
    # r12: index-ordered pair expansion as TWO chained explodes
    # (posexplode each element, explode the array tail after it) instead
    # of the nested transform/struct lambdas — higher-order-function
    # lambdas are interpreted per element while Generate is whole-stage-
    # codegen'd (guide §4.1; same rewrite as the co-purchase basket
    # expansion). Identical pair multiset: both enumerate (i < j) index
    # pairs of the same sorted array.
    small_pairs = (
        buckets.select(F.posexplode("ids").alias("__i", "id1"), "ids")
        .select(
            "id1",
            F.explode(
                F.expr("slice(ids, __i + 2, size(ids) - __i - 1)")
            ).alias("id2"),
        )
    )
    big = buckets_all.where(F.size("ids") > bucket_cap).select(
        *bucket_cols, F.explode("ids").alias("__id")
    )
    a = big.select(*bucket_cols, F.col("__id").alias("id1"))
    b = big.select(*bucket_cols, F.col("__id").alias("id2"))
    big_pairs = (
        a.join(b, bucket_cols).where(F.col("id1") < F.col("id2")).select("id1", "id2")
    )
    return small_pairs.unionByName(big_pairs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    bucket_cap: int = 4096,
) -> DataFrame:
    """LSH banding: equal band-hash in any band → candidate pair (id1 < id2).

    Scale: candidate generation is near-linear instead of the exact
    form's quadratic shingle-join. Two-tier enumeration with EXACT
    semantics at any bucket size:

    * buckets ≤ ``bucket_cap``: one shuffle on (band, bh) into
      groupBy + collect_list + in-row pair expansion — no self-join
      (which would evaluate the signature subtree twice: HOF lambda ids
      defeat exchange reuse) and no extra shuffles. A bucket is an LSH
      collision group, small by construction, so this is ~all the data.
    * buckets > ``bucket_cap`` (degenerate boilerplate that upstream
      exact-dedup should have removed, but might not have): their ids
      re-explode and pair up via a (band, bh)-keyed distributed
      SELF-JOIN — quadratic in the bucket, but spread across tasks by
      the shuffle (AQE skew-split applies). The cap bounds TASK MEMORY,
      not recall — no pairs are dropped.

    The branch happens AFTER one aggregation (cheap: the branch point is
    the bucket table, doc-cardinality ids, persisted) rather than via a
    pre-aggregation size pass — the quadratic pair EXPANSION is what
    OOMs a task at realistic degeneracy (n=10⁴ ids → ~10⁸ structs in ONE
    row), while the id list itself is 8 bytes/doc and only stresses
    memory at absurd (≥10⁸-doc) bucket sizes. Contrast
    ``embedding_near_duplicates``, whose per-entry payload is a whole
    vector — THERE the branch must happen before any collect.
    """
    exploded = band_rows(signatures, id_col, num_hashes, bands)
    return grouped_pair_enumeration(
        exploded, ["band", "bh"], id_col, bucket_cap=bucket_cap
    ).distinct()


def band_rows(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Unpivot a signature table to (id, band, band-hash) rows — the LSH
    bucket key relation shared by self-dedup (pair enumeration) and
    incremental dedup (batch-probe join).

    stack() unpivots all bands in ONE parsed expression — same plan as
    the explode-of-struct-array form but without bands×struct-arity
    Py4J calls at build time.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop trailing minhash columns"
        )
    rows_per_band = num_hashes // bands
    stack_args = ", ".join(
        f"{b}, xxhash64("
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return signatures.select(
        F.col(id_col),
        F.expr(f"stack({bands}, {stack_args})").alias("band", "bh"),
    )


def shingle_array_from_words(words: Column, n: int = 3) -> Column:
    """Distinct word-n-gram shingle set from an ALREADY-PROJECTED words
    column (map-side, no explode).

    ``words`` must be a bound column reference, not an inline ``split``
    expression — HOF lambdas are interpreted without common-subexpression
    elimination, so an inline split re-executes per element (see
    :func:`ngram_shingles`). Built as one parsed expression to keep plan
    construction off the Py4J hot path.
    """
    w = words._jc.toString()  # column name, e.g. "__words"
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at({w}, i + {k + 1})" for k in range(n)
    ) + ")"
    return F.expr(
        f"CASE WHEN size({w}) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size({w}) - {n}), i -> {gram})) "
        "ELSE CAST(array() AS array<string>) END"
    )


def pairwise_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact Jaccard of word 3-gram shingle sets (``ngram_shingles``'
    default) for an explicit (id1, id2) candidate list, computed per
    pair by array intersection — the verify stage of the LSH path.

    Scale: cost is proportional to CANDIDATES, never corpus. Each side of
    the pair list joins the docs table once (shingle arrays are computed
    below the join, once per doc, and travel as data); the Jaccard itself
    is a row-local array_intersect — no shingle-level shuffle, no
    post-aggregation semi-join, ~3 stages total. A doc appearing in k
    candidate pairs is replicated k times; LSH banding keeps k small by
    construction (bucket collisions), which is the operator's contract.
    """
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), " ").alias("__words"),
    ).select(
        F.col("__id"),
        shingle_array_from_words(F.col("__words"), 3).alias("__sh"),
    )
    s1 = sh.select(F.col("__id").alias("id1"), F.col("__sh").alias("__sh1"))
    s2 = sh.select(F.col("__id").alias("id2"), F.col("__sh").alias("__sh2"))
    inter = F.size(F.array_intersect(F.col("__sh1"), F.col("__sh2")))
    union = F.size("__sh1") + F.size("__sh2") - inter
    jac = inter.cast("double") / union
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", jac.alias("jaccard"))
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """MinHash→LSH→exact-verify near-duplicate pairs (the 100 TB dedup path)
    over word 3-gram shingles.

    Returns (id1, id2, jaccard rounded to 6dp) for verified pairs ≥ threshold.
    """
    # exploded + groupBy-MIN signatures, NOT the array variant: Spark's
    # higher-order functions (transform/aggregate) are interpreted, so the
    # "shuffle-free" array form spends more CPU than it saves in exchange.
    # The groupBy's map-side partial MIN collapses the shuffle to
    # ~num_hashes longs per (doc, source partition) — doc-cardinality, not
    # shingle-cardinality — which scales fine.
    shingled = ngram_shingles(df, text_col=text_col, id_col=id_col)
    sigs = minhash_signatures(shingled, id_col=id_col, num_hashes=num_hashes)
    # persist: two consumers (doc prune + verify) must not recompute the
    # LSH subtree. The operator returns a lazy plan referencing cands, so
    # eager unpersist would defeat the cache — lifecycle is owned by the
    # caching scope (caching.py, released by the harness post-collect).
    cands = scoped_persist(
        lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
    )
    # one explode pass, no distinct: the semi-join's broadcast hash set
    # dedups build-side keys itself, so a distinct here would add an
    # exchange just to shrink an already-tiny broadcast payload.
    cand_ids = cands.select(
        F.explode(F.array(F.col("id1"), F.col("id2"))).alias(id_col)
    )
    # verify cost must be proportional to CANDIDATES, not corpus: prune the
    # docs table to candidate ids (broadcast semi-join reaches the parquet
    # scan), then each pair fetches its two shingle sets by id join and
    # intersects row-locally.
    cand_docs = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    pairs = pairwise_jaccard(cand_docs, cands, text_col=text_col, id_col=id_col)
    return pairs.where(F.col("jaccard") >= threshold).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_band_store(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The LSH index of a corpus over word 3-gram shingles: (id, band,
    bh) rows, which :func:`minhash_near_duplicates_incremental` probes.
    Fixed-width rows (8 B id + band int + 8 B hash), bands× the corpus
    cardinality.
    """
    sigs = minhash_signatures(
        ngram_shingles(docs, text_col=text_col, id_col=id_col),
        id_col=id_col, num_hashes=num_hashes,
    )
    return band_rows(sigs, id_col, num_hashes, bands)


def minhash_near_duplicates_incremental(
    base: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Incremental corpus dedup: near-dup pairs introduced by a NEW
    batch against an existing base corpus (and within the batch) —
    without ever enumerating base-base pairs.

    This is how a 100 TB corpus is actually deduplicated day to day:
    re-running self-dedup over base+batch re-pays the whole corpus's
    candidate enumeration for a 0.1 % delta. Here the batch's band rows
    PROBE the corpus bucket relation with a bucket-keyed join whose
    build side is the (small) batch — broadcast by AQE under the
    threshold, plain shuffle join beyond — so candidate work is
    O(batch × bucket hit size), linear in the batch. A mega bucket in
    the base costs bucket_size candidates per probing batch doc —
    linear, not quadratic, so no cap tier is needed on this path.

    The base's band index (:func:`minhash_band_store`) is recomputed
    from ``base``, keeping the call self-contained and oracle-checkable.

    Returns (id1 < id2, jaccard ≥ threshold) pairs where at least one
    side is a batch doc — exactly the restriction of
    :func:`minhash_near_duplicates` over base ∪ batch to pairs touching
    the batch (LSH candidacy of a pair is pairwise, so probing only
    batch buckets loses nothing; equality is pytest-asserted).

    PRECONDITION: base and batch doc ids must be DISJOINT. A re-ingested
    doc sharing a base id would be excluded from candidacy against its
    old version by the ``__pid != __cid`` self-filter, and the
    base∪batch docs relation would carry duplicate ids into the verify
    joins, duplicating pair rows. This is the natural contract of an
    append-only ingest (each batch gets fresh ids); updates-in-place need a delete+reinsert under a
    NEW id, exactly as the CDC lake path does.
    """
    b_sides = batch.select(F.col(id_col), F.col(text_col))
    a_sides = base.select(F.col(id_col), F.col(text_col))
    base_bands = minhash_band_store(
        a_sides, text_col, id_col, num_hashes=num_hashes, bands=bands
    )
    probe = scoped_persist(
        minhash_band_store(
            b_sides, text_col, id_col, num_hashes=num_hashes, bands=bands
        ).select("band", "bh", F.col(id_col).alias("__pid"))
    )
    # TWO joins, not one join against (base ∪ batch): unioning the base
    # index with the probe rows would erase the base relation's physical
    # layout — in particular a band store bucketed on (band, bh)
    # (``sources.lake.write_bucketed_table``) joins here Exchange-free on
    # its side, which a union would forfeit. probe×(base∪probe) ≡
    # (probe×base) ∪ (probe×probe), and the batch-batch join is
    # batch-sized.
    # No broadcast HINT on either: the probe side is small by contract
    # but not by construction — AQE broadcasts it when it is actually
    # under the threshold and falls back to a bucket-keyed shuffle join
    # when a giant backfill batch arrives, the correct plan there.
    vs_base = probe.join(
        base_bands.select("band", "bh", F.col(id_col).alias("__cid")),
        ["band", "bh"],
    )
    vs_batch = probe.join(
        probe.select("band", "bh", F.col("__pid").alias("__cid")),
        ["band", "bh"],
    )
    cands = scoped_persist(
        vs_base.unionByName(vs_batch)
        .where(F.col("__pid") != F.col("__cid"))
        .select(
            F.least("__pid", "__cid").alias("id1"),
            F.greatest("__pid", "__cid").alias("id2"),
        )
        .distinct()
    )
    docs = a_sides.unionByName(b_sides)
    cand_ids = cands.select(
        F.explode(F.array(F.col("id1"), F.col("id2"))).alias(id_col)
    )
    # no broadcast HINT on the semi-join either (unlike the self-dedup
    # path, whose candidate set is corpus-bounded): candidates here scale
    # with the batch, and this function explicitly contemplates giant
    # backfill batches — a forced broadcast would OOM exactly then. AQE
    # broadcasts when the candidate list is actually small.
    cand_docs = docs.join(cand_ids, id_col, "left_semi")
    pairs = pairwise_jaccard(cand_docs, cands, text_col=text_col, id_col=id_col)
    return pairs.where(F.col("jaccard") >= threshold).select(
        "id1", "id2", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_near_duplicates_collapsed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Exact-collapse → MinHash near-dup on DISTINCT texts — the
    boilerplate-proof production shape of :func:`minhash_near_duplicates`.

    The adversarial input for pairwise near-dup is a mega-cluster of
    IDENTICAL boilerplate (cookie banners, license headers): k identical
    docs land in the same LSH buckets and force C(k,2) candidate pairs —
    the mega-bucket guard bounds task memory but the WORK stays quadratic,
    because the pair contract demands quadratic output. Collapsing exact
    duplicates first (md5 groupBy — one fixed-width-key shuffle) reduces
    the cluster to ONE representative, so the LSH/verify stages only ever
    see distinct texts: cost becomes linear in distinct docs, which is the
    scaling a 100 TB crawl (30–50 % exact-dup by most published crawl
    stats) actually needs.

    Returns GROUP-level matches: (rep1, rep2, jaccard, count1, count2)
    where repN is the canonical (min) id of an exact-dup group and countN
    its member size. Pairwise output over members is deliberately NOT
    re-expanded — within-group pairs are jaccard=1.0 by construction and
    cross-group member pairs all share their groups' jaccard, so the
    group-level row carries the same information in O(groups) instead of
    O(members²) rows. (For truly NEAR-identical mega-clusters — perturbed
    boilerplate, no two docs byte-equal — quadratic candidate work is
    information-theoretically forced by the pair contract; the production
    tool there is the cluster view (``connected_components_star``) fed by
    a banding config tuned so one exact verify per bucket edge suffices,
    and the mega-bucket guard keeps those tasks memory-bounded.)
    """
    # min(text) == the group's one distinct text (all members byte-equal);
    # min, not first(), so the representative row is deterministic in any
    # engine — the oracle SQL uses the same MIN.
    groups = df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("__h")).agg(
        F.min(id_col).alias(id_col),
        F.min(text_col).alias(text_col),
        F.count(F.lit(1)).alias("__cnt"),
    )
    reps = scoped_persist(groups.select(id_col, text_col))
    counts = groups.select(F.col(id_col).alias("__rid"), "__cnt")
    pairs = minhash_near_duplicates(
        reps,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )
    return (
        pairs.join(counts.withColumnRenamed("__rid", "id1"), "id1")
        .withColumnRenamed("__cnt", "count1")
        .join(counts.withColumnRenamed("__rid", "id2"), "id2")
        .withColumnRenamed("__cnt", "count2")
        .select(
            F.col("id1").alias("rep1"),
            F.col("id2").alias("rep2"),
            "jaccard",
            "count1",
            "count2",
        )
    )


def simhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """120-bit SimHash per document as TWO 60-bit words.

    bit_i(sig) = sign of Σ_distinct tokens (±1 by bit_i(h(token))). A
    single 60-bit word would cap the Hamming-blocking bucket space at
    2^15 per block (60 bits / 4 pigeonhole blocks), so in-bucket
    candidate pairs would grow ~N²/2^15 — quadratic past ~10⁶ docs.
    Taking BOTH md5 halves (hex chars 1-15 and 16-30 → two 60-bit
    words, each fits a signed BIGINT) lets :func:`hamming_neighbors_wide`
    widen its blocks with the corpus: block width w supports bucket
    spaces up to 2^30, i.e. constant occupancy out to ~80·2^30 ≈ 10¹¹
    docs under the ``recommended_bits`` policy (operators/similarity.py
    — the same occupancy math governs both LSH families).

    The token hash is the ENGINE-PORTABLE md5-hex prefix → BIGINT (the
    MinHash base construction, wider), and the bits are per-bit ±1
    conditional sums in ONE groupBy — 120 map-side-combinable
    aggregates — so the whole signature replays in DuckDB. Output:
    (id, simhash0, simhash1), word 0 = hash bits 0-59, word 1 = bits
    60-119.
    """
    tokens = (
        df.select(
            F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("tok")
        )
        .select(F.col(id_col), F.md5(F.col("tok")).alias("__m"))
        .select(
            F.col(id_col),
            F.conv(F.substring("__m", 1, 15), 16, 10).cast("long").alias("__h0"),
            F.conv(F.substring("__m", 16, 15), 16, 10).cast("long").alias("__h1"),
        )
        .distinct()
    )
    sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(__h{w}, {i}) & 1L) = 1L THEN 1 ELSE -1 END)"
        ).alias(f"s{w}_{i}")
        for w in (0, 1)
        for i in range(60)
    ]
    agg = tokens.groupBy(id_col).agg(*sums)
    sigs = [
        " + ".join(
            f"(CASE WHEN s{w}_{i} > 0 THEN {1 << i}L ELSE 0L END)" for i in range(60)
        )
        for w in (0, 1)
    ]
    return agg.select(
        F.col(id_col),
        F.expr(sigs[0]).cast("long").alias("simhash0"),
        F.expr(sigs[1]).cast("long").alias("simhash1"),
    )


def hamming_neighbors_wide(
    signatures: DataFrame,
    id_col: str,
    max_distance: int = 3,
    block_bits: int = 15,
) -> DataFrame:
    """Hamming pairs over the 120-bit wide signature with POLICY-SIZED
    block width.

    Four pigeonhole blocks, two per word (block i of word w = bits
    [i·block_bits, (i+1)·block_bits), i ∈ {0,1}) — disjoint bit
    subsets of the 120-bit signature, so distance ≤ ``max_distance``
    (= 3) still guarantees an exact match in ≥ 1 block, for ANY block
    width: narrower blocks only ADD candidates (verified away by the
    full 120-bit bit_count), wider blocks shrink buckets. Size
    ``block_bits`` with ``recommended_bits(n_docs, max_bits=30)`` —
    bucket space 2^block_bits then grows ∝ N, keeping per-bucket
    occupancy (and candidate pairs per doc) constant where fixed-width
    blocks' pairs grow quadratically.

    Scale: (block, value) rows go through the SHARED two-tier
    :func:`grouped_pair_enumeration` carrying IDS ONLY (in-row expansion
    under a 2048-id cap, distributed self-join above — a hot block
    value never materializes a quadratic array in one task), then the
    16-byte signatures REJOIN for the bit_count verify,
    candidate-proportionally.
    """
    if not 4 <= block_bits <= 30:
        raise ValueError(f"block_bits must be in [4, 30], got {block_bits}")
    signatures = scoped_persist(signatures)
    mask = (1 << block_bits) - 1
    stack_args = ", ".join(
        f"{2 * w + i}, (shiftright(simhash{w}, {i * block_bits}) & {mask}L)"
        for w in (0, 1)
        for i in (0, 1)
    )
    exploded = signatures.select(
        F.col(id_col),
        F.expr(f"stack(4, {stack_args})").alias("blk", "val"),
    )
    pairs = grouped_pair_enumeration(
        exploded, ["blk", "val"], id_col, bucket_cap=2048
    ).dropDuplicates(["id1", "id2"])
    s1 = signatures.select(
        F.col(id_col).alias("id1"),
        F.col("simhash0").alias("a0"),
        F.col("simhash1").alias("a1"),
    )
    s2 = signatures.select(
        F.col(id_col).alias("id2"),
        F.col("simhash0").alias("b0"),
        F.col("simhash1").alias("b1"),
    )
    dist = F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))) + F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    )
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .where(dist <= max_distance)
        .select("id1", "id2", dist.cast("int").alias("hamming_distance"))
    )


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected (id1, id2) pair list: returns
    (doc_id, component) for every node on an edge, with component = the
    smallest id in its cluster (the canonical representative a dedup run
    keeps). This is the step that turns pairwise near-dup MATCHES into
    dedup GROUPS.

    Two phases, one code path:

    1. Local contraction (Łącki et al., "Connected Components at Scale
       via Local Contractions", arXiv:1807.10727). The (hi, lo)-oriented
       distinct edges go through one narrow ``mapInPandas`` pass that
       runs an exact numpy union-find over each partition's edges
       (min-label hooking plus pointer jumping) and emits one
       (node, local minimum) star edge per non-root node. Contraction
       preserves connectivity and keeps hi > lo, so the answer is exact
       for any partitioning; a component whose edges all sit in one
       partition comes out as a finished star. Near-dup boards are
       unions of small dense clusters over a small edge list, so at the
       sizes AQE coalesces into one partition every component is local
       and the star-forest test below passes before any round runs.
    2. Large-star / small-star rounds (Kiveris et al., "Connected
       Components in MapReduce and Beyond", SoCC'14) on whatever the
       contraction left, i.e. components split across partitions.
       Each round halves tree heights and the rounds converge in
       O(log² n) (O(log n) in practice) *independent of diameter*, so
       one adversarial chain cannot serialize the job at scale. Each
       round is two groupBy+join passes over the edge list, no
       collect_list (high-degree nodes never materialize their
       neighborhood in one row — the min is a map-side-combinable agg):

         large-star: m(u) = min(Γ(u) ∪ {u}) over the SYMMETRIC edge set;
                     every neighbor v > u re-attaches to m(u).
         small-star: on (hi, lo)-oriented edges, m(hi) = min(Γ≤(hi));
                     hi and its smaller neighbors all re-attach to m(hi).

       Both preserve connectivity and strictly shrink a potential
       function, so the fixed point — star graphs rooted at each
       component's minimum — is reached without oscillation.

    Convergence is detected by the STAR-FOREST test, checked before each
    round: the (hi, lo) edge set is a fixed point iff no ``lo`` endpoint
    also appears as a ``hi`` and every hi carries one lo. It is one
    map-side-combinable aggregate over the round's checkpointed output.

    The contracted edges are localCheckpointed once (the node list is
    derived from them: every node of a nontrivial local component
    appears there as hi or as lo). Each round EAGERLY materializes its
    own checkpoint and then frees the previous round's blocks, so the
    loop never strands one edge-list-sized checkpoint per round. The
    inputs the FINAL lazy plan still references (contracted edges, node
    list, last round) are registered in the caching scope, released by
    the harness after materialization — unpersisting them here would
    strand the returned plan on lineage a localCheckpoint no longer has.
    """
    import numpy as np
    import pandas as pd

    oriented = (
        edges.select(
            F.greatest(F.col("id1"), F.col("id2")).alias("hi"),
            F.least(F.col("id1"), F.col("id2")).alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )

    def contract(batches):
        his, los = [], []
        for pdf in batches:
            his.append(pdf["hi"].to_numpy())
            los.append(pdf["lo"].to_numpy())
        if not his:
            return
        hi, lo = np.concatenate(his), np.concatenate(los)
        # node values → dense indices; np.unique sorts, so the smallest
        # index of a component is also its smallest id
        node, idx = np.unique(np.concatenate([hi, lo]), return_inverse=True)
        a, b = idx[: len(hi)], idx[len(hi):]
        label = np.arange(len(node))  # label[i] <= i, same component
        while True:
            # hook each endpoint's root onto the smaller root, then jump
            # pointers until every node points straight at its root
            la, lb = label[a], label[b]
            m = np.minimum(la, lb)
            np.minimum.at(label, la, m)
            np.minimum.at(label, lb, m)
            while True:
                jumped = label[label]
                if np.array_equal(jumped, label):
                    break
                label = jumped
            if np.array_equal(label[a], label[b]):
                break
        leaf = label != np.arange(len(node))
        yield pd.DataFrame({"hi": node[leaf], "lo": node[label[leaf]]})

    contracted = scoped_local_checkpoint(
        oriented.mapInPandas(contract, oriented.schema)
    )
    nodes = scoped_persist(
        contracted.select(F.col("hi").alias("doc_id"))
        .union(contracted.select("lo"))
        .distinct()
    )

    def _is_star_forest(df: DataFrame) -> bool:
        # hi > lo holds for every row, so the edge set is the fixed
        # point (stars rooted at each component minimum) iff (a) no
        # node plays both roles AND (b) every hi appears in exactly one
        # edge — a hi carrying two distinct lo's is an uncontracted
        # wedge (e.g. {(2,0),(2,1)}: roles disjoint, still one round
        # from the fixpoint {(1,0),(2,0)}). SUM(role) counts a hi's
        # rows. Round outputs are distinct; the contracted edges may
        # repeat a (hi, lo) that two partitions both emitted, which
        # reads as nhi > 1 and only costs one extra round (the round's
        # distinct removes it), never a wrong answer. One union + one
        # node-keyed aggregate, map-side-combinable; take(1) on
        # violations.
        viol = (
            df.select(F.col("hi").alias("n"), F.lit(1).alias("s"))
            .union(df.select(F.col("lo"), F.lit(0)))
            .groupBy("n")
            .agg(F.min("s").alias("mn"), F.sum("s").alias("nhi"))
            .where((F.col("mn") == 0) & (F.col("nhi") > 0) | (F.col("nhi") > 1))
        )
        return viol.isEmpty()

    cur = contracted
    free_prev = None  # never free contracted mid-loop: nodes reads it lazily
    for _ in range(50):  # a cap: the rounds converge in O(log² n)
        if _is_star_forest(cur):
            break
        # large-star over the symmetrized edges: (v, m(u)) for v > u
        sym = cur.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            cur.select(F.col("lo"), F.col("hi"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star on the (hi, lo) orientation large-star guarantees
        # (m ≤ u < v): hi and all its smaller neighbors attach to the min
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        with_min = large.join(m2, "hi")
        small, free_new = tracked_local_checkpoint(
            with_min.where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(with_min.select("hi", F.col("m")))
            .distinct()
        )
        # this round's checkpoint is materialized (eager) — the PREVIOUS
        # round's blocks are unreachable from any future plan: free now
        if free_prev is not None:
            free_prev()
        free_prev = free_new
        cur = small
    labels = nodes.join(
        cur.select(F.col("hi").alias("doc_id"), F.col("lo").alias("component")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    # the returned LAZY plan reads nodes and cur: both stay cached until
    # the harness releases the scope post-materialization (cur is a
    # lineage-severed checkpoint — freeing it here would make the plan
    # unexecutable, and nodes would silently recompute)
    if free_prev is not None:
        scoped_release(free_prev)
    return labels
