"""Reproducible sampling for training-data pipelines.

``df.sample(fraction, seed)`` is NOT reproducible across runs at scale:
its Bernoulli draw is seeded per partition index, so any change in file
layout, split sizes, or parallelism reshuffles which rows are kept.
A data pipeline needs sample membership to be a pure function of the ROW
— so re-runs, backfills, and incremental extensions of the corpus agree
on every row forever.

``hash_sample`` gates on a cryptographic hash of a stable key: a row is
in the sample iff ``md5(key) < threshold``. Membership is deterministic,
partition-independent, composable (a 1/4 sample of a 1/2 sample is an
exact 1/8 sample when thresholds nest), and engine-portable (md5 hex
compares identically everywhere — which also makes it DuckDB-oracle
checkable, unlike xxhash64 gating).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def hash_gate(key: Column, threshold_hex: str) -> Column:
    """Membership predicate: md5(key) lexicographically below the hex
    threshold. ``threshold_hex`` of length k keeps ~int(threshold,16)/16^k
    of rows (e.g. '28' → 0x28/256 ≈ 15.6%, '1' → 1/16 = 6.25%)."""
    return F.md5(key.cast("string").cast("binary")) < F.lit(threshold_hex.lower())


def hash_sample(df: DataFrame, key_col: str, threshold_hex: str) -> DataFrame:
    """Deterministic row-content sample (see module docstring).

    Scale: the gate is a scan-side codegen predicate — no shuffle, no
    state; the md5 cost is per-row but the predicate prunes before any
    downstream join or explode. For selective samples this makes the
    whole downstream pipeline pay fraction-proportional cost.
    """
    return df.where(hash_gate(F.col(key_col), threshold_hex))


def deterministic_shuffle(
    df: DataFrame, key_col: str, num_partitions: int = 64
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering: total
    order by ``md5(key)`` — effectively random with respect to any
    content attribute, yet a pure function of the row, so every re-run
    (and every engine) produces the SAME order.

    Scale: the single-partition trap here is a global
    ``row_number()``/``orderBy().collect()`` — instead this is
    ``repartitionByRange`` on the hash (range exchange via sampled
    boundaries) + ``sortWithinPartitions``: written out, part-00000 …
    part-NNNNN concatenate to the totally-ordered corpus, with no
    operator ever seeing more than one partition. This is how an epoch's
    example order is fixed at 100 TB.
    """
    h = F.md5(F.col(key_col).cast("string").cast("binary")).alias("__shuffle_key")
    return (
        df.select("*", h)
        .repartitionByRange(num_partitions, F.col("__shuffle_key"))
        .sortWithinPartitions("__shuffle_key")
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    thresholds: dict[str, str],
) -> DataFrame:
    """Per-stratum deterministic sampling — corpus mixing by downsampling
    each stratum (language, source, domain) at its own rate, e.g. keep 25%
    of 'en' but 6% of 'de' to hit a target language mix.

    ``thresholds`` maps stratum value → hex gate for :func:`hash_gate`;
    strata absent from the map are dropped entirely (rate 0). Same
    guarantees as ``hash_sample``: membership is a pure per-row function,
    so the mix is stable under re-runs and corpus growth, and nested
    thresholds compose (shrinking one stratum's hex prefix only ever
    removes rows from it).

    Scale: still a scan-side codegen predicate (a CASE over literal
    thresholds — no join, no shuffle); strata count is assumed
    literal-sized (languages/sources), not data-sized.
    """
    if not thresholds:
        raise ValueError("thresholds must map at least one stratum to a gate")
    h = F.md5(F.col(key_col).cast("string").cast("binary"))
    gate = F.lit(False)
    for stratum, thr in thresholds.items():
        gate = F.when(
            F.col(stratum_col) == stratum, h < F.lit(thr.lower())
        ).otherwise(gate)
    return df.where(gate)


def token_budget_mix(
    docs: DataFrame,
    budgets: dict,
    n_buckets: int = 256,
) -> DataFrame:
    """Training-mix construction by TOKEN BUDGET: for each source in
    ``budgets``, keep documents in deterministic md5 order until the
    source's token budget is filled. A document is kept iff the tokens
    accumulated BEFORE it are still under budget — so the document that
    crosses the boundary is included (coverage ≥ budget whenever supply
    suffices), and membership is a pure function of the corpus +
    budgets: re-runs, backfills, and layout changes agree on every row.

    Scale design — the naive form is a running-sum window partitioned
    by source, which serializes each source through ONE task (a 10 TB
    source = one partition). Instead, selection is split on the order
    key's hex prefix (``n_buckets`` order-preserving buckets, since
    fixed-width hex compares prefix-first):

    1. one aggregate pass computes per-(source, bucket) token sums —
       a sources × n_buckets relation, collected driver-side
       (control-plane: ``budgets`` is driver-sized by contract);
    2. the driver prefix-sums buckets per source: buckets wholly under
       budget pass through with NO window, buckets past it are dropped
       at the scan, and only the single BOUNDARY bucket per source —
       1/n_buckets of that source — runs the running-sum window, offset
       by the tokens consumed before it.

    The projected (doc_id, source, tokens, okey) relation is persisted
    between the two passes so the text is tokenized once; the persisted
    payload is ~40 B/row regardless of document size. Sources not in
    ``budgets`` are dropped. Output: (doc_id, source, tokens).
    """
    import math

    from ..caching import scoped_persist

    p = round(math.log(n_buckets, 16))
    if 16**p != n_buckets:
        raise ValueError(f"n_buckets must be a power of 16, got {n_buckets}")
    sources = sorted(budgets)
    okey = F.md5(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")
    )
    trimmed = F.trim(F.col("text"))
    tokens = (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("long")
    )
    base = scoped_persist(
        docs.where(F.col("source").isin(sources)).select(
            F.col("doc_id"),
            F.col("source"),
            tokens.alias("__tokens"),
            okey.alias("__okey"),
            F.conv(F.substring(okey, 1, p), 16, 10).cast("int").alias("__bucket"),
        )
    )
    stats = (
        base.groupBy("source", "__bucket")
        .agg(F.sum("__tokens").alias("t"))
        .collect()
    )
    per_src: dict = {}
    for r in stats:
        per_src.setdefault(r["source"], []).append((r["__bucket"], r["t"]))
    # first bucket whose cumulative sum REACHES the budget: a bucket is
    # wholly kept only while cum_end < budget — at cum_end == budget a
    # ZERO-token row ending the bucket would sit at pre == budget, which
    # the contract (pre < budget) drops, so the boundary window must
    # adjudicate it (hypothesis-caught: zero-token doc under zero
    # budget). Buckets sent to the window unnecessarily (all-positive
    # tokens summing exactly to budget) come out identical.
    bnd_rows = []
    for s, bs in per_src.items():
        bs.sort()
        cum = 0
        for b, t in bs:
            if cum + t >= budgets[s]:
                bnd_rows.append((s, b, cum, int(budgets[s])))
                break
            cum += t
    spark = docs.sparkSession
    if not bnd_rows:
        out = base
    else:
        bdf = spark.createDataFrame(
            bnd_rows, "source string, __bnd int, __off long, __budget long"
        )
        j = base.join(F.broadcast(bdf), "source", "left")
        whole = j.where(F.col("__bnd").isNull() | (F.col("__bucket") < F.col("__bnd")))
        w = Window.partitionBy("source").orderBy("__okey", "doc_id")
        edge = (
            j.where(F.col("__bucket") == F.col("__bnd"))
            .withColumn(
                "__pre",
                F.sum("__tokens").over(w) - F.col("__tokens") + F.col("__off"),
            )
            .where(F.col("__pre") < F.col("__budget"))
        )
        out = whole.select("doc_id", "source", "__tokens").unionByName(
            edge.select("doc_id", "source", "__tokens")
        )
    return out.select(
        F.col("doc_id"), F.col("source"), F.col("__tokens").alias("tokens")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    boundaries: "Sequence[tuple[str, str | None]]",
    label_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test corpus split: every row is labeled
    by where ``md5(key)`` falls among ascending hex boundaries —
    ``[("train", "f5"), ("val", "fa"), ("test", None)]`` sends ~95.7 %
    of rows below 'f5' to train, ['f5','fa') to val, and the rest to
    test. The last boundary must be ``None`` (catch-all), so every row
    gets exactly one label.

    Split membership is a pure function of the key — re-runs, backfills,
    engine swaps, and incremental corpus extensions all agree on every
    row forever, and a row can never drift between splits as the corpus
    grows (the failure mode of ``randomSplit``, whose per-partition
    seeding reassigns rows when file layout changes). Hex-boundary gates
    also nest with ``hash_gate`` samples: a hash_sample of the train
    split stays inside the train split.

    Leakage note: keys should identify DEDUPLICATED content — splitting
    near-duplicate docs by id puts the duplicates in different splits.
    Run the dedup apply first (or key on a content fingerprint).

    Scale: one scan-side CASE chain over the md5 — no shuffle, no state,
    label cost O(1) per row at any corpus size.
    """
    if not boundaries or boundaries[-1][1] is not None:
        raise ValueError("boundaries must end with a (label, None) catch-all")
    bounds = [b for _, b in boundaries[:-1]]
    if any(b is None for b in bounds):
        raise ValueError("only the last boundary may be None")
    lowered = [b.lower() for b in bounds]  # type: ignore[union-attr]
    if lowered != sorted(lowered) or len(set(lowered)) != len(lowered):
        raise ValueError(f"boundaries must be strictly ascending: {bounds}")
    h = F.md5(F.col(key_col).cast("string").cast("binary"))
    label = F.lit(boundaries[-1][0])
    for lab, bound in reversed(boundaries[:-1]):
        label = F.when(h < F.lit(bound.lower()), F.lit(lab)).otherwise(label)
    return df.withColumn(label_col, label)


def hash_fold(
    df: DataFrame, key_col: str, k: int, fold_col: str = "fold"
) -> DataFrame:
    """K-fold assignment for cross-validation: ``fold = md5_int(key)
    mod k`` — deterministic, partition-independent, engine-portable
    (same 60-bit md5-prefix integer the dedup family uses). Folds are
    ~equal-sized by md5 uniformity; every key keeps its fold forever,
    so fold i's held-out set is stable across re-runs and corpus
    growth (a new doc joins exactly one fold and never moves).

    Scale: one scan-side projection — no shuffle, no state. Train/test
    for fold i = ``fold != i`` / ``fold == i``, both codegen filters.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("bigint")
    return df.withColumn(fold_col, h % F.lit(k))


FRAC60_SCALE = 1 << 60  # md5-prefix fraction denominator (60 bits = 15 hex)


def temperature_mix(
    docs: DataFrame,
    alpha: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-weighted source mixing (the multilingual-LM recipe,
    e.g. mT5 §3.1 / XLM-R §3): sample sources so the kept-token
    distribution follows ``p_s^alpha`` instead of the raw corpus share
    ``p_s`` — ``alpha < 1`` upweights low-resource sources without
    discarding the high-resource ones entirely. Implemented as a
    deterministic per-source KEEP RATE ``r_s ∝ p_s^(alpha-1)``
    normalized so the smallest source keeps rate 1.0 (expected kept
    tokens from s are then ∝ p_s · p_s^(alpha-1) = p_s^alpha — the
    temperature distribution, achieved by downsampling only).

    Membership is the md5 gate family's: a doc is kept iff its 60-bit
    md5-prefix fraction of ``id_col`` falls under the source's rate —
    a pure function of (corpus, alpha), stable across re-runs, layout,
    and corpus growth; composable with `hash_split` / `hash_gate`
    (independent hashes by construction would need salted keys; here
    the SAME key keeps splits correlated — callers wanting independent
    gates salt the key, e.g. with a 'gk:' prefix).

    Returns the per-source scoreboard (source, tokens_total, rate,
    docs_kept, tokens_kept) — the audit artifact; apply the same gate
    to materialize the mixed corpus.

    Scale: one scan computes (id, source, ws-token count) — ~40 B/row
    persisted across the two passes so text is tokenized once; the
    per-source totals are a sources-sized collect (control-plane, like
    BM25's idf literals); rates come back as a scan-side CASE chain of
    literals (no join); the scoreboard groupBy is map-side-combined to
    ≤ sources rows per task.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    from ..caching import scoped_persist
    from .text import _ws_token_count

    toks = scoped_persist(
        docs.select(
            F.col(id_col).alias("id"),
            F.col(source_col).alias("source"),
            _ws_token_count(F.col(text_col)).cast("bigint").alias("tokens"),
        )
    )
    totals = {
        r["source"]: int(r["st"])
        for r in toks.groupBy("source").agg(F.sum("tokens").alias("st")).collect()
    }
    if not totals:
        raise ValueError("temperature_mix: empty corpus")
    grand = float(sum(totals.values()))
    wgt = {s: (t / grand) ** (alpha - 1.0) for s, t in totals.items()}
    wmax = max(wgt.values())
    rate = {s: round(w / wmax, 6) for s, w in wgt.items()}
    thr = {s: int(r * FRAC60_SCALE) for s, r in rate.items()}
    frac = F.conv(
        F.substring(F.md5(F.col("id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("bigint")
    keep = F.lit(False)
    for s, t in sorted(thr.items()):
        keep = F.when(F.col("source") == s, frac < F.lit(t)).otherwise(keep)
    board = (
        toks.where(keep)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("tokens").alias("tokens_kept"),
        )
    )
    rate_col = F.lit(None).cast("double")
    tot_col = F.lit(None).cast("bigint")
    for s in sorted(rate):
        rate_col = F.when(F.col("source") == s, F.lit(rate[s])).otherwise(rate_col)
        tot_col = F.when(F.col("source") == s, F.lit(totals[s])).otherwise(tot_col)
    return board.select(
        "source",
        tot_col.alias("tokens_total"),
        rate_col.alias("rate"),
        "docs_kept",
        "tokens_kept",
    )


def weighted_sample_k(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight: Column,
    k: int,
    salt: str = "ws:",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group
    (Efraimidis & Spirakis 2006): each row draws ``u`` from its md5
    60-bit-prefix fraction and ranks by ``u^(1/w)`` — the top-k per
    group is then an exact weighted draw (a row's selection odds scale
    with its weight), yet membership stays a pure function of
    (key, weight, k): re-runs, layouts, and backfills agree on every
    row, which ``df.sample``-style seeded draws cannot promise. The
    ``salt`` decorrelates this draw from the other md5 gates on the
    same key (`hash_gate` / `hash_split` nest by design; a weighted
    draw must not).

    Rows with non-positive weight are excluded (they have zero mass —
    and ``u^(1/w)`` is undefined at w=0).

    Returns the input columns + ``sample_key`` (the 12-dp-rounded rank
    key, exposed so audits can replay the draw).

    Scale: the rank ≤ k filter lowers to a per-partition
    WindowGroupLimit BELOW the exchange, so at most k rows per
    (group, task) ever shuffle — group size never matters.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    frac = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt), F.col(key_col).cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .cast("double")
        / F.lit(float(FRAC60_SCALE))
    )
    skey = F.round(
        F.pow(frac, F.lit(1.0) / weight.cast("double")), 12
    ).alias("sample_key")
    w = Window.partitionBy(group_col).orderBy(
        F.col("sample_key").desc(), F.col(key_col).asc()
    )
    return (
        df.where(weight > 0)
        .select("*", skey)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
