"""Unit tests for the training-data pipeline operators: repetition
scores, token-window chunking, stratified sampling, PII scrub, n-gram
decontamination."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)
from bigdatapipelinepysparksqlserver_spark.operators.text import (
    chunk_documents,
    ngram_probe_hits,
    repetition_scores,
    scrub_pii,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_scores_detects_boilerplate(spark):
    df = _docs(
        spark,
        [
            (1, "spam ham spam ham spam ham"),  # one bigram pair dominates
            (2, "a b c d e f"),  # all distinct
            (3, "solo"),  # < 2 words: no bigrams
        ],
    )
    out = {
        r.doc_id: r
        for r in repetition_scores(df, "text", "doc_id").collect()
    }
    assert out[1].n_words == 6
    assert out[1].distinct_word_ratio == pytest.approx(2 / 6, abs=1e-6)
    # bigrams: [spam ham]x3, [ham spam]x2 → top fraction 3/5
    assert out[1].top_bigram_fraction == pytest.approx(3 / 5, abs=1e-6)
    assert out[2].distinct_word_ratio == 1.0
    assert out[2].top_bigram_fraction == pytest.approx(1 / 5, abs=1e-6)
    assert out[3].top_bigram_fraction is None  # guard: no descending-sequence blowup


def test_chunk_documents_covers_every_token_exactly(spark):
    # n=10 window=4 stride=2 → chunks at 0,2,4,6 (ceil(6/2)+1 = 4 chunks)
    words = [f"w{i}" for i in range(10)]
    df = _docs(spark, [(1, " ".join(words))])
    rows = sorted(
        chunk_documents(df, "text", "doc_id", window=4, stride=2).collect(),
        key=lambda r: r.chunk_index,
    )
    assert [r.chunk_index for r in rows] == [0, 1, 2, 3]
    assert [r.chunk_tokens for r in rows] == [4, 4, 4, 4]
    # stride coverage: last chunk ends at word 10 → every token in some chunk


def test_chunk_documents_short_and_exact_window(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c d"), (3, "a b c d e")])
    by_doc = {}
    for r in chunk_documents(df, "text", "doc_id", window=4, stride=2).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_tokens == 3
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_tokens == 4
    # n=5: chunks at 0 (4 tokens) and 2 (3 tokens)
    assert sorted((r.chunk_index, r.chunk_tokens) for r in by_doc[3]) == [
        (0, 4),
        (1, 3),
    ]


def test_chunk_md5_identifies_identical_windows(spark):
    df = _docs(spark, [(1, "x y z w"), (2, "x y z w")])
    hashes = {
        r.doc_id: r.chunk_md5
        for r in chunk_documents(df, "text", "doc_id", window=8, stride=4).collect()
    }
    assert hashes[1] == hashes[2]


def test_stratified_sample_is_deterministic_and_nested(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    wide = stratified_sample(df, "lang", "doc_id", {"en": "80", "de": "80"})
    narrow = stratified_sample(df, "lang", "doc_id", {"en": "40", "de": "80"})
    wide_ids = {r.doc_id for r in wide.collect()}
    narrow_ids = {r.doc_id for r in narrow.collect()}
    # determinism across repartitionings
    assert {
        r.doc_id for r in stratified_sample(df.repartition(13), "lang", "doc_id", {"en": "80", "de": "80"}).collect()
    } == wide_ids
    # nesting: shrinking en's threshold only removes en rows
    assert narrow_ids <= wide_ids
    dropped = wide_ids - narrow_ids
    assert dropped and all(i % 2 == 0 for i in dropped)  # only en ids dropped
    # strata absent from the map are dropped entirely
    only_en = stratified_sample(df, "lang", "doc_id", {"en": "80"})
    assert all(r.lang == "en" for r in only_en.collect())


def test_stratified_matches_hash_sample_per_stratum(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    a = {r.doc_id for r in stratified_sample(df, "lang", "doc_id", {"en": "28"}).collect()}
    b = {r.doc_id for r in hash_sample(df, "doc_id", "28").collect()}
    assert a == b


def test_stratified_sample_rejects_empty_map(spark):
    df = spark.range(1).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    with pytest.raises(ValueError):
        stratified_sample(df, "lang", "doc_id", {})


def test_scrub_pii_counts_and_redacts(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at jane.doe+x@example.com or call 555-123-4567 now"),
            (2, "no pii here at all"),
        ],
    )
    out = {r.doc_id: r for r in scrub_pii(df, "text", "doc_id").collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert out[2].n_emails == 0 and out[2].n_phones == 0
    # doc 2 unchanged → scrubbed hash equals hash of original text
    expected = df.where("doc_id = 2").select(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).first()
    assert out[2].scrubbed_md5 == expected.h
    # doc 1 changed → different hash
    orig1 = df.where("doc_id = 1").select(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).first()
    assert out[1].scrubbed_md5 != orig1.h


def test_ngram_probe_hits_token_aligned(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps"),
            (2, "a the quick brown fox leaps"),  # contains probe 3-gram mid-doc
            (3, "thequick brown foxjumps xx"),  # substring-ish but not token-aligned
        ],
    )
    probes = spark.createDataFrame([("the quick brown",)], "probe string")
    out = {r.doc_id: r.n_probe_hits for r in ngram_probe_hits(docs, probes, "text", "doc_id", n=3).collect()}
    assert out == {1: 1, 2: 1}  # doc 3 absent: no token-aligned match


def test_deterministic_shuffle_total_order_without_global_sort(spark, executed_plan):
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = deterministic_shuffle(df, "doc_id", num_partitions=8)

    # partition-wise: concatenating partitions in index order yields the
    # total md5 order (range partitioning → disjoint, ordered ranges)
    parts = out.select("doc_id", "__shuffle_key", F.spark_partition_id().alias("p")).collect()
    by_part = {}
    for r in parts:
        by_part.setdefault(r.p, []).append(r["__shuffle_key"])
    prev_max = ""
    for p in sorted(by_part):
        keys = by_part[p]
        assert keys == sorted(keys)  # sorted within partition
        assert prev_max <= keys[0]  # ranges disjoint and increasing
        prev_max = keys[-1]

    # determinism: same order regardless of input partitioning
    order_a = [r.doc_id for r in out.collect()]
    out_b = deterministic_shuffle(df.repartition(17), "doc_id", num_partitions=8)
    order_b = [r.doc_id for r in out_b.collect()]
    assert sorted(order_a) == sorted(order_b) == list(range(1000))
    # the shuffle is non-trivial (not identity order)
    assert order_a[:10] != list(range(10))

    # no single-partition stage: the plan must not contain a global Sort
    plan = executed_plan(out)
    assert "rangepartitioning" in plan.lower()


def test_pack_chunks_conserves_tokens_and_is_layout_independent(spark):
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        chunk_documents,
        pack_chunks,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), (F.pmod(F.xxhash64("id"), F.lit(90)) + 10).cast("int")),
                lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64("id", i), F.lit(50))),
            ),
        ).alias("text"),
    )
    chunks = chunk_documents(docs, text_col="text", id_col="doc_id")
    packed = pack_chunks(chunks, budget=64).collect()

    # token conservation: every chunk token lands in exactly one sequence
    total_chunk_tokens = chunks.agg(F.sum("chunk_tokens")).first()[0]
    assert sum(r.seq_tokens for r in packed) == total_chunk_tokens

    # each shard's sequence ids are dense from 0 and every sequence except
    # the shard's last starts within `budget` tokens of the previous one
    by_shard: dict[str, list] = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.seq_id)
        assert [r.seq_id for r in rows] == list(range(len(rows)))

    # layout independence: same plan from a differently-partitioned input
    repacked = pack_chunks(chunks.repartition(13), budget=64).collect()
    assert sorted(map(tuple, repacked)) == sorted(map(tuple, packed))


def test_token_budget_mix_two_pass_equals_naive_window(spark):
    """The bucket-split two-pass selection must equal the naive
    per-source running-sum window (pre-inclusion cumulative < budget,
    crossing doc INCLUDED), stay deterministic across input layouts,
    and meet the coverage contract."""
    from pyspark.sql import Window

    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        token_budget_mix,
    )

    rows = [
        (i, " ".join(["w"] * (5 + i % 37)), f"s{i % 3}") for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    budgets = {"s0": 700, "s1": 10**9, "s2": 0}
    got = sorted(map(tuple, token_budget_mix(docs, budgets).collect()))

    okey = F.md5(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary")
    )
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    w = Window.partitionBy("source").orderBy("okey", "doc_id")
    bdf = spark.createDataFrame(
        [(s, b) for s, b in budgets.items()], "source string, budget long"
    )
    naive = (
        docs.select("doc_id", "source", toks.alias("tokens"), okey.alias("okey"))
        .join(bdf, "source")
        .withColumn("pre", F.sum("tokens").over(w) - F.col("tokens"))
        .where(F.col("pre") < F.col("budget"))
        .select("doc_id", "source", "tokens")
    )
    want = sorted(map(tuple, naive.collect()))
    assert got == want

    # coverage contract per source: s0 crosses (>= budget, and removing
    # its last-ordered doc drops below), s1 exhausts supply, s2 empty
    per = {}
    for _, s, t in got:
        per[s] = per.get(s, 0) + t
    assert per.get("s2", 0) == 0
    assert per["s0"] >= 700
    all_s1 = sum(5 + i % 37 for i in range(400) if i % 3 == 1)
    assert per["s1"] == all_s1

    # layout independence
    again = sorted(
        map(tuple, token_budget_mix(docs.repartition(17), budgets).collect())
    )
    assert again == got

    # n_buckets granularity must not change membership
    coarse = sorted(
        map(tuple, token_budget_mix(docs, budgets, n_buckets=16).collect())
    )
    assert coarse == got


def test_source_ngram_overlap_counts_distinct_shared_grams(spark):
    """Hand corpus: sources sharing one 8-gram count it ONCE regardless
    of how many docs repeat it; disjoint sources never pair; pairs are
    ordered (a < b) so each appears once."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        source_ngram_overlap,
    )

    span = "one two three four five six seven eight"
    rows = [
        (1, span + " tail_a", "sA"),
        (2, span + " tail_b", "sA"),        # same span twice in sA
        (3, span + " tail_c", "sB"),
        (4, "totally different words with no shared span here at all", "sC"),
        (5, "short text", "sD"),            # < 8 tokens -> no grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r.shared_ngrams
        for r in source_ngram_overlap(docs, n=8).collect()
    }
    assert got[("sA", "sB")] == 1          # the shared span, counted once
    assert all(a < b for a, b in got)
    assert not any("sC" in p or "sD" in p for p in got)


def test_temperature_mix_matches_reference_python(spark):
    """The operator's scoreboard must equal a pure-Python reference:
    same share^(alpha-1) rates (6-dp), same md5-prefix gate (hashlib),
    same kept counts — and be layout-independent."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        FRAC60_SCALE,
        temperature_mix,
    )

    rows = [
        (i, " ".join(["w"] * (3 + i % 11)), ("big" if i % 10 < 8 else "small"))
        for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    alpha = 0.3

    toks = {i: 3 + i % 11 for i, _, _ in rows}
    src = {i: s for i, _, s in rows}
    totals: dict = {}
    for i, s in src.items():
        totals[s] = totals.get(s, 0) + toks[i]
    grand = float(sum(totals.values()))
    wgt = {s: (t / grand) ** (alpha - 1.0) for s, t in totals.items()}
    wmax = max(wgt.values())
    rate = {s: round(w / wmax, 6) for s, w in wgt.items()}
    thr = {s: int(r * FRAC60_SCALE) for s, r in rate.items()}
    expect: dict = {}
    for i, s in src.items():
        frac = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        if frac < thr[s]:
            d, t = expect.get(s, (0, 0))
            expect[s] = (d + 1, t + toks[i])

    got = {
        r["source"]: (
            r["tokens_total"], r["rate"], r["docs_kept"], r["tokens_kept"]
        )
        for r in temperature_mix(docs, alpha).collect()
    }
    assert set(got) == set(expect)
    for s in expect:
        assert got[s] == (totals[s], rate[s], *expect[s])
    # the smallest source is kept in full by construction
    assert rate["small"] == 1.0 and got["small"][2:] == (
        sum(1 for i in src if src[i] == "small"),
        sum(toks[i] for i in src if src[i] == "small"),
    )
    # layout independence: the gate is a pure row function
    re_got = {
        r["source"]: (r["docs_kept"], r["tokens_kept"])
        for r in temperature_mix(docs.repartition(17), alpha).collect()
    }
    assert re_got == {s: v[2:] for s, v in got.items()}


def test_temperature_mix_alpha_one_is_identity_and_validates(spark):
    """alpha=1 ⇒ every rate is 1.0 (raw distribution, nothing dropped);
    out-of-range alpha rejected up front."""
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        temperature_mix,
    )

    docs = spark.createDataFrame(
        [(i, "a b c", f"s{i % 2}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    rows = temperature_mix(docs, 1.0).collect()
    assert all(r["rate"] == 1.0 for r in rows)
    assert sum(r["docs_kept"] for r in rows) == 40
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            temperature_mix(docs, bad)


def test_weighted_sample_k_matches_reference_python(spark):
    """The Efraimidis-Spirakis draw must equal a pure-Python reference
    (same salted md5 fraction, same u^(1/w) key, same top-k), exclude
    non-positive weights, and be layout-independent."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        FRAC60_SCALE,
        weighted_sample_k,
    )

    rows = [(i, f"g{i % 3}", (0 if i % 17 == 0 else 1 + i % 29)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, grp string, w long")

    def key_of(i, w):
        u = int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:15], 16) / FRAC60_SCALE
        return round(u ** (1.0 / w), 12)

    expect: dict = {}
    for i, g, w in rows:
        if w > 0:
            expect.setdefault(g, []).append((-key_of(i, w), i))
    want = {
        g: sorted(v)[:7] for g, v in expect.items()
    }
    got = weighted_sample_k(df, "grp", "id", F.col("w"), 7).collect()
    by_g: dict = {}
    for r in got:
        by_g.setdefault(r["grp"], []).append((-r["sample_key"], r["id"]))
    assert {g: sorted(v) for g, v in by_g.items()} == want
    re_got = weighted_sample_k(
        df.repartition(13), "grp", "id", F.col("w"), 7
    ).collect()
    assert sorted((r["grp"], r["id"]) for r in re_got) == sorted(
        (r["grp"], r["id"]) for r in got
    )


def test_weighted_sample_k_plan_lowers_to_group_limit(spark, executed_plan):
    """rank ≤ k must plan as WindowGroupLimit below the exchange (at
    most k rows per group per task shuffle) — the contract that makes
    the draw group-size-independent."""
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        weighted_sample_k,
    )

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("grp"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    plan = executed_plan(weighted_sample_k(df, "grp", "id", F.col("w"), 3))
    assert "WindowGroupLimit" in plan
    import pytest

    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample_k(df, "grp", "id", F.col("w"), 0)


def test_trigram_lm_backoff_routing_and_values(spark, tmp_path):
    """Stupid-backoff routing on a hand-built corpus: a stored-corpus
    trigram scores c3/c12; an unseen trigram with a seen backoff bigram
    scores alpha*c23/cw2; a fully-OOV trigram takes the alpha^2 add-1
    floor. Values checked against a pure-python replica of the exact
    expression (including the integer scaling)."""
    import math

    import pyspark.sql.functions as F  # noqa: F401

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        build_trigram_lm_store,
        trigram_lm_score_from_store,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    store = str(tmp_path / "tri_store")
    build_trigram_lm_store(corpus, store)
    # corpus stats: tokens = 8, vocab = 5 (a b c d e)
    # trigram counts: "a b c"=2, "b c d"=1, "b c e"=1
    # bigram counts: "a b"=2, "b c"=2, "c d"=1, "c e"=1
    # unigram counts: a=2 b=2 c=2 d=1 e=1
    batch = spark.createDataFrame(
        [
            (10, "a b c"),    # branch 3: log2(c3("a b c")/c2("a b")) = log2(2/2)
            (11, "x b c"),    # branch 2: "x b c" unseen, "b c" seen ->
                              #   log2(0.4 * c2("b c")/c1("b")) = log2(0.4*2/2)
            (12, "x y z"),    # branch 1: all OOV -> log2(0.16... * 1/13)
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in trigram_lm_score_from_store(spark, store, batch).collect()
    }

    def scaled(v):
        return round(round(v * 1e6) / 1e6, 6)

    r = got[10]
    assert (r.n_hits3, r.n_backoff2, r.n_floor) == (1, 0, 0)
    assert r.avg_log2p == scaled(math.log2(2 / 2))
    r = got[11]
    assert (r.n_hits3, r.n_backoff2, r.n_floor) == (0, 1, 0)
    assert r.avg_log2p == scaled(math.log2(0.4 * (2 / 2)))
    r = got[12]
    assert (r.n_hits3, r.n_backoff2, r.n_floor) == (0, 0, 1)
    assert r.avg_log2p == scaled(math.log2(0.4 * 0.4 * ((0 + 1.0) / 13.0)))


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------


def _bpe_reference(word_freqs, rounds):
    """Pure-python replay of the bpe_train contract: occurrence-counted
    adjacent pairs, (count DESC, a, b) argmax, left-to-right
    non-overlapping padded replace."""
    state = {w: " ".join(w) for w in word_freqs}
    merges = []
    for r in range(1, rounds + 1):
        counts = {}
        for w, f in word_freqs.items():
            syms = state[w].split(" ")
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, c))
        for w in state:
            state[w] = (
                (" " + state[w] + " ").replace(f" {a} {b} ", f" {a}{b} ").strip()
            )
    return merges, state


def test_bpe_train_matches_python_reference(spark):
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        bpe_train,
        word_counts,
    )

    rows = [
        (1, "low low low lower lowest"),
        (2, "new newer newest low"),
        (3, "wide wider widest new new"),
    ]
    wf = {}
    for _, t in rows:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    wc = word_counts(_docs(spark, rows))
    got_merges, got_state = bpe_train(wc, 6)
    want_merges, want_state = _bpe_reference(wf, 6)
    assert got_merges == want_merges
    state_rows = {r["word"]: r["state"] for r in got_state.collect()}
    assert state_rows == want_state


def test_bpe_repeated_symbol_run_contract(spark):
    """'a a a a' merges non-overlapping left-to-right WITH separator
    consumption: round 1 replaces the first ' a a ' and scanning
    resumes after the inserted text, so the state becomes 'aa a a'
    (not 'aa aa'); round 2's tie-break picks (a,a) over (aa,a) and
    completes the run — the exact semantics the DuckDB oracle replays
    via replace()."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import bpe_train

    wc = spark.createDataFrame([("aaaa", 10)], "word string, freq long")
    merges, state = bpe_train(wc, 2)
    # round 1: pair (a,a) occurs 3 times (overlap-counted) x freq 10
    assert merges[0] == (1, "a", "a", 30)
    # round 2: (a,a) and (aa,a) both count 10; lexicographic tie-break
    assert merges[1] == (2, "a", "a", 10)
    s2_rows = {r["word"]: r["state"] for r in state.collect()}
    assert s2_rows == {"aaaa": "aa aa"}


def test_bpe_exhausts_gracefully(spark):
    """Single-symbol vocabulary: zero pairs -> training stops early."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import bpe_train

    wc = spark.createDataFrame([("a", 5), ("b", 3)], "word string, freq long")
    merges, state = bpe_train(wc, 4)
    assert merges == []
    assert {r["state"] for r in state.collect()} == {"a", "b"}


def test_winnow_fingerprints_matches_python_reference(spark):
    """Winnowing selection contract vs a direct python reference:
    k-gram md5-prefix hashes, per-window argmin with rightmost
    tie-break, overlapping selections collapsed — and the MOSS
    guarantee: docs sharing a run of >= w+k-1 tokens share a
    fingerprint hash."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    def ref(text, k=WINNOW_K, w=WINNOW_W):
        toks = [t for t in text.strip().split(" ") if t]
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
        ]
        fps = set()
        for i in range(len(hs) - w + 1):
            # min on (hash, -pos): rightmost position among hash ties
            h, negp = min((hs[i + j], -(i + j + 1)) for j in range(w))
            fps.add((h, -negp))
        return fps

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "a b a b a b a b a b"),          # heavy hash ties
        (3, "one two three four five six"),   # exactly k+w-1 tokens
        (4, "short doc"),                     # below threshold -> empty
        (5, "  padded   tokens  with   extra spaces here now ok "),
        (6, "xx quick brown fox jumps over the zz"),  # shares a 6-run w/ 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_hash, r.fp_pos))
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == ref(text), f"doc {doc_id}"
    # the guarantee: docs 1 and 6 share "quick brown fox jumps over
    # the" (6 tokens = w+k-1) -> at least one shared fp HASH
    h1 = {h for h, _ in got[1]}
    h6 = {h for h, _ in got[6]}
    assert h1 & h6


def test_winnow_pairs_bounded_under_clone_flood(spark):
    """Adversarial skew: 2000 near-identical boilerplate docs would
    mint ~2M pairs per shared gram without the df-cap; the stop-gram
    guard excludes hyper-common hashes at the bucket level so the pair
    relation stays bounded and the board still surfaces the SMALL
    copy families (exact-clone floods are dedup_exact's job, pinned
    here as the documented division of labor)."""
    import time

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_fingerprints,
    )

    boiler = "subscribe to our newsletter for updates terms of service apply here"
    flood = [(i, f"{boiler} item {i}") for i in range(2000)]
    # one small genuine copy family (3 docs sharing a distinct run)
    run = "the rare shared analytical passage appears in exactly three docs"
    fam = [
        (9001, f"alpha text {run} tail one"),
        (9002, f"beta intro {run} tail two"),
        (9003, f"gamma note {run} tail three"),
    ]
    docs = spark.createDataFrame(flood + fam, "doc_id long, text string")

    t0 = time.time()
    fps = winnow_fingerprints(docs).select("doc_id", "fp_hash").distinct()
    hc = fps.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("df"))
    kept = fps.join(
        hc.where((F.col("df") >= 2) & (F.col("df") <= 50)).select("fp_hash"),
        "fp_hash",
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .collect()
    )
    wall = time.time() - t0
    pair_ids = {(r.doc_a, r.doc_b) for r in pairs}
    # the genuine family survives the cap...
    assert {(9001, 9002), (9001, 9003), (9002, 9003)} <= pair_ids
    # ...and the flood's shared boilerplate (df=2000 > cap) mints no
    # pair explosion: only the "item {i}"-adjacent grams (df small)
    # can pair flood docs, keeping the relation bucket-bounded
    assert len(pairs) < 50_000, len(pairs)
    assert wall < 60, f"clone flood blew the pair budget: {wall:.1f}s"


def test_decontaminate_spans_catches_edited_contamination(spark):
    """VERDICT r9 #1 done-criterion: a lightly-edited contaminated doc
    is caught by the winnow span probe but MISSED by the exact 8-gram
    prefix probe (one token change inside the probe window blinds it;
    any untouched >= 6-token span still collides on a fingerprint)."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        decontaminate_spans,
        ngram_probe_hits,
    )

    eval_text = (
        "what is the boiling point of water at standard atmospheric"
        " pressure in celsius"
    )
    # contaminated: copies an INTERIOR 8-token span of the eval item,
    # but its first tokens differ and one eval-prefix token is edited
    contaminated = (
        "quiz item: THE boiling point of water at standard atmospheric"
        " pressure is one hundred degrees"
    )
    clean = (
        "a completely unrelated passage about mountain weather patterns"
        " and seasonal rainfall totals"
    )
    corpus = spark.createDataFrame(
        [(10, contaminated), (11, clean)], "doc_id long, text string"
    )
    eval_docs = spark.createDataFrame(
        [(1, eval_text)], "eval_id long, text string"
    )

    # the exact prefix probe (what the `decontaminate` query builds —
    # first 8 tokens of the eval item) misses: the copied span starts
    # at eval token 2 and doc 10's own prefix differs
    probes = eval_docs.select(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), " "), 1, 8)
        ).alias("probe")
    )
    exact = ngram_probe_hits(
        corpus, probes, text_col="text", id_col="doc_id", n=8
    ).collect()
    assert exact == [], exact

    spans = decontaminate_spans(corpus, eval_docs).collect()
    got = {(r.doc_id, r.eval_id) for r in spans}
    assert got == {(10, 1)}, spans
    assert all(r.shared_fps >= 1 for r in spans)


def test_winnow_span_verify_exact_planted_lengths(spark):
    """VERDICT r9 #6 done-criterion: the exact verify reports the TRUE
    longest copied token run for flagged pairs — a planted 9-token span
    verifies to exactly 9; a planted 6-token (minimum-guarantee) span
    to exactly 6; a pair with no >= 6-token common run verifies to 0."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_span_verify,
    )

    nine = "alpha beta gamma delta epsilon zeta eta theta iota"
    six = "uno dos tres cuatro cinco seis"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {nine} trailing material here"),
            (2, f"other opening {nine} different ending text"),
            (3, f"lead {six} tail padding tokens extra"),
            (4, f"start {six} closing remarks appended now"),
            (5, "wholly distinct content about topic one two"),
            (6, "entirely different sentences concerning another matter"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 5), (3, 4, 1), (5, 6, 1)],
        "doc_a long, doc_b long, shared_fps long",
    )
    got = {
        (r.doc_a, r.doc_b): r.longest_run_tokens
        for r in winnow_span_verify(docs, pairs).collect()
    }
    assert got == {(1, 2): 9, (3, 4): 6, (5, 6): 0}, got


def test_winnow_span_scrub_plan_merges_overlapping_intervals(spark):
    """The scrub PLAN cuts duplicated spans from the LARGER-id doc and
    merges overlapping intervals across pairs: a victim doc copying
    two OVERLAPPING runs (from two different sources) yields ONE
    merged cut whose length is the union, not the sum; disjoint runs
    stay separate spans; a doc that only ever appears as doc_a (the
    kept first occurrence) is never scrubbed."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_span_scrub_plan,
    )

    # victim doc 9 text: tokens 1..16; it copies tokens 3..10 from doc
    # 1 and tokens 7..14 from doc 2 (overlap 7..10 -> union 3..14 = 12
    # tokens), plus a DISJOINT 6-token run (tokens 20..25) from doc 3
    runab = "t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14"  # 12 tokens
    a_part = " ".join(runab.split()[:8])   # t3..t10
    b_part = " ".join(runab.split()[4:])   # t7..t14
    six = "q1 q2 q3 q4 q5 q6"
    docs = spark.createDataFrame(
        [
            (1, f"source one says {a_part} and stops"),
            (2, f"source two states {b_part} then ends"),
            (3, f"source three holds {six} here"),
            (9, f"victim t1 t2 {runab} t15 t16 pad filler {six} tail"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 9, 3), (2, 9, 3), (3, 9, 1)],
        "doc_a long, doc_b long, shared_fps long",
    )
    got = {
        r.doc_id: (r.n_spans, r.tokens_to_remove)
        for r in winnow_span_scrub_plan(docs, pairs).collect()
    }
    # doc 9: merged [t3..t14] = 12 tokens + disjoint 6-token run
    assert got == {9: (2, 18)}, got


def test_winnow_span_scrub_apply_rewrites_and_converges(spark):
    """VERDICT r10 #1 done-criteria for the scrub APPLY:

    - the victim's planned cut intervals are sliced out of its token
      sequence (merged-union semantics, same as the plan);
    - the kept FIRST occurrence and unrelated docs pass through
      byte-identical (original whitespace preserved);
    - tokens_removed matches the plan's tokens_to_remove;
    - CONVERGENCE: re-running the winnow pair board over the scrubbed
      corpus finds no cross-doc common run >= g = w+k-1 tokens against
      a scrubbed victim.
    """
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_fingerprints,
        winnow_span_scrub_apply,
        winnow_span_verify,
    )

    runab = "t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14"  # 12 tokens
    a_part = " ".join(runab.split()[:8])   # t3..t10
    b_part = " ".join(runab.split()[4:])   # t7..t14
    six = "q1 q2 q3 q4 q5 q6"
    doc1 = f"source one  says {a_part} and stops"  # double space kept
    docs = spark.createDataFrame(
        [
            (1, doc1),
            (2, f"source two states {b_part} then ends"),
            (3, f"source three holds {six} here"),
            (9, f"victim t1 t2 {runab} t15 t16 pad filler {six} tail"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 9, 3), (2, 9, 3), (3, 9, 1)],
        "doc_a long, doc_b long, shared_fps long",
    )
    out = {
        r.doc_id: r
        for r in winnow_span_scrub_apply(docs, pairs).collect()
    }
    # non-victims byte-identical (doc 1's double space survives)
    assert out[1].text == doc1
    assert out[2].tokens_removed == 0 and out[3].tokens_removed == 0
    # victim: union [t3..t14] + [q1..q6] cut, survivors single-spaced
    assert out[9].text == "victim t1 t2 t15 t16 pad filler tail"
    assert out[9].tokens_removed == 18

    # convergence: the scrubbed corpus re-winnows to an empty board
    scrubbed = winnow_span_scrub_apply(docs, pairs).drop("tokens_removed")
    fps = (
        winnow_fingerprints(scrubbed)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    board = (
        fps.alias("a")
        .join(fps.alias("b"), "fp_hash")
        .where("a.doc_id < b.doc_id")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .collect()
    )
    # sources 1 and 2 legitimately still share their sub-threshold
    # (< g) 4-token overlap; no surviving pair may involve the victim
    assert all(9 not in (r.doc_a, r.doc_b) for r in board), board
    # and NO pair anywhere retains a run >= g (the winnow guarantee
    # span): sub-threshold fingerprint hits verify to 0
    allpairs = spark.createDataFrame(
        [(1, 2, 1), (1, 9, 1), (2, 9, 1), (3, 9, 1)],
        "doc_a long, doc_b long, shared_fps long",
    )
    post = winnow_span_verify(scrubbed, allpairs).collect()
    assert all(r.longest_run_tokens == 0 for r in post), post


def test_winnow_span_scrub_apply_empties_total_victim(spark):
    """A victim whose ENTIRE token sequence is duplicated scrubs to the
    empty string (not a dropped row, not original text) — the
    all-tokens-cut edge the left-join rewrite must not lose."""
    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        winnow_span_scrub_apply,
    )

    span = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"prefix {span} suffix"), (2, span)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 5)], "doc_a long, doc_b long, shared_fps long"
    )
    out = {r.doc_id: r for r in winnow_span_scrub_apply(docs, pairs).collect()}
    assert out[2].text == "" and out[2].tokens_removed == 10
    assert out[1].text == f"prefix {span} suffix"


def test_bpe_oracle_parity_on_vocabulary_exhaustion(spark, tmp_path):
    """ADVICE r8: when training exhausts before BPE_ROUNDS (a round's
    pair relation is empty), the oracle's scalar subqueries go NULL —
    without the COALESCE guard every s{r} state would go NULL and the
    vocab oracle would emit empty/NULL rows while Spark keeps the real
    segmentation. Pin Spark ≡ DuckDB for the graded `bpe_vocab_top` on
    a corpus that exhausts at round 2 of 8."""
    import duckdb
    import pandas as pd

    # 'ab' exhausts after one merge
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 6], "text": ["ab ab", "ab", "ab ab ab"] * 2}
    )
    sf_dir = str(tmp_path / "sf_degenerate")
    spark.createDataFrame(pdf).repartition(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = duckdb.connect()
    con.register("documents", pdf)

    from bigdatapipelinepysparksqlserver_spark.queries.registry import REGISTRY

    spec = REGISTRY["bpe_vocab_top"]
    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas().sort_values(by=list(sdf.columns)).reset_index(drop=True)
    oracle_pdf = (
        con.sql(spec.oracle).df().sort_values(by=list(spark_pdf.columns)).reset_index(drop=True)
    )
    con.close()
    assert list(spark_pdf.columns) == list(oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf)
    for col in spark_pdf.columns:
        s = spark_pdf[col].map(lambda v: None if pd.isna(v) else v)
        o = oracle_pdf[col].map(lambda v: None if pd.isna(v) else v)
        assert list(s) == list(o), f"{col}: {list(s)} != {list(o)}"
