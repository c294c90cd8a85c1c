"""Property-based tests (hypothesis) for the semantics the engine's
correctness hangs on: CDC window partitioning, cutoff arithmetic,
salted-vs-direct aggregation identity.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from bigdatapipelinepysparksqlserver_spark.functions.expressions import (
    half_open_window,
    year_month,
)
from bigdatapipelinepysparksqlserver_spark.plans.ledger import default_cutoff

TS = st.datetimes(
    min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)
).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000))


@given(now=TS, lag=st.integers(min_value=0, max_value=120))
def test_cutoff_properties(now, lag):
    cut = default_cutoff(now, lag)
    # truncated to the minute
    assert cut.second == 0 and cut.microsecond == 0
    # lag exact: distance from truncation is exactly `lag` minutes
    assert now.replace(second=0, microsecond=0) - cut == timedelta(minutes=lag)
    # idempotent through another truncation
    assert default_cutoff(cut, 0) == cut
    # monotone: larger lag => earlier cutoff
    assert default_cutoff(now, lag + 1) < cut or lag >= 0


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(TS, min_size=1, max_size=40),
    cuts=st.lists(TS, min_size=2, max_size=4, unique=True),
)
@pytest.mark.slow
def test_windows_partition_events_exactly_once(spark, events, cuts):
    """Consecutive half-open windows [c0,c1),[c1,c2),... assign every
    event in [c0, cN) to EXACTLY one window — the no-loss/no-dup CDC
    invariant the reference's cutoff chain relies on."""
    cuts = sorted(cuts)
    df = spark.createDataFrame([(i, e) for i, e in enumerate(events)], ["id", "ts"])
    total_in_range = df.where(
        (F.col("ts") >= F.lit(cuts[0])) & (F.col("ts") < F.lit(cuts[-1]))
    ).count()
    window_sum = sum(
        df.where(half_open_window("ts", lo, hi)).count()
        for lo, hi in zip(cuts, cuts[1:])
    )
    assert window_sum == total_in_range


@settings(max_examples=8, deadline=None)
@given(ts=st.lists(TS, min_size=1, max_size=30))
def test_year_month_matches_string_derivation(spark, ts):
    """Arithmetic year_month == the reference's string formula
    str(y)+('0'+str(m))[-2:] (data_generation.py:38)."""
    df = spark.createDataFrame([(t,) for t in ts], ["ts"])
    got = [r.ym for r in df.select(year_month("ts").alias("ym")).collect()]
    want = [int(f"{t.year}{t.month:02d}") for t in ts]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    buckets=st.integers(min_value=1, max_value=7),
)
def test_salted_agg_equals_direct(spark, rows, buckets):
    """Salting never changes results, for any data and bucket count."""
    from bigdatapipelinepysparksqlserver_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    direct = {
        r.k: (r.n, r.s, r.mx)
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.s, r.mx)
        for r in salted_agg(
            df, ["k"], {"n": "count:v", "s": "sum:v", "mx": "max:v"}, buckets
        ).collect()
    }
    assert salted == direct


@settings(max_examples=6, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), TS), min_size=1, max_size=15
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), TS), min_size=0, max_size=15
    ),
)
def test_asof_join_equals_bruteforce(spark, lefts, rights):
    """asof_join ≡ argmax over the (ts, seq) order: for every left row the
    payload is the right row of the same key with the greatest (ts, seq)
    strictly below the left row's (ts, seq), or null."""
    from bigdatapipelinepysparksqlserver_spark.operators.temporal import asof_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(lefts)]
    rrows = [(1000 + i, k, t, f"p{i}") for i, (k, t) in enumerate(rights)]
    left = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "event_id long, user_id long, ts timestamp, tag string"
    )
    got = {
        r["event_id"]: r["asof_tag"]
        for r in asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            payload_cols=["tag"], seq_col="event_id",
        ).collect()
    }
    for lid, lk, lt in lrows:
        prior = [
            (rt, rid, tag)
            for rid, rk, rt, tag in rrows
            if rk == lk and (rt, rid) < (lt, lid)
        ]
        expected = max(prior)[2] if prior else None
        assert got[lid] == expected, (lid, got[lid], expected)


@settings(max_examples=6, deadline=None)
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), TS), min_size=1, max_size=10),
    rights=st.lists(st.tuples(st.integers(0, 2), TS), min_size=0, max_size=15),
    span_s=st.integers(1, 3600),
)
def test_range_join_equals_bruteforce(spark, lefts, rights, span_s):
    """range_join ≡ the half-open band predicate, regardless of how rows
    straddle bin boundaries."""
    from bigdatapipelinepysparksqlserver_spark.operators.temporal import range_join

    lrows = [(i, k, t) for i, (k, t) in enumerate(lefts)]
    rrows = [(1000 + i, k, t) for i, (k, t) in enumerate(rights)]
    left = spark.createDataFrame(lrows, "id long, user_id long, ts timestamp")
    right = spark.createDataFrame(rrows, "id long, user_id long, ts timestamp")
    got = sorted(
        (r["id"], r["r_id"])
        for r in range_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            lower_us=-span_s * 1_000_000, upper_us=0,
        ).collect()
    )
    lo = timedelta(seconds=span_s)
    expected = sorted(
        (lid, rid)
        for lid, lk, lt in lrows
        for rid, rk, rt in rrows
        if rk == lk and lt - lo <= rt < lt
    )
    assert got == expected


@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcdefgh ", min_size=1, max_size=30),
            min_size=1, max_size=8, unique=True,
        ),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=20, deadline=None)
def test_portable_minhash_matches_python_reference(spark, shingle_sets):
    """The engine-portable MinHash family (md5-hex-prefix base + affine
    permutations) must agree with an independent pure-Python evaluation
    — this is the contract that makes the DuckDB oracle able to replay
    LSH candidate generation bit-for-bit."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.dedup import (
        MINHASH_P,
        minhash_affine_constants,
        minhash_signatures,
    )

    num_hashes = 8
    consts = minhash_affine_constants(num_hashes)

    def py_base(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    rows = [(i, sh) for i, shs in enumerate(shingle_sets) for sh in shs]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        r["doc_id"]: [r[f"mh{k}"] for k in range(num_hashes)]
        for r in minhash_signatures(df, id_col="doc_id", num_hashes=num_hashes).collect()
    }
    for i, shs in enumerate(shingle_sets):
        expect = [
            min((a * py_base(sh) + b) % MINHASH_P for sh in shs)
            for a, b in consts
        ]
        assert got[i] == expect


@given(n=st.integers(min_value=1, max_value=10**14),
       target=st.integers(min_value=1, max_value=10**6))
def test_recommended_bits_properties(n, target):
    """Sizing policy invariants for ANY (N, target_bucket): result in
    clamp range, and expected bucket occupancy N/2^bits lands within
    [target/2, target*2] whenever no clamp binds (round-to-nearest
    exponent error is at most a factor √2 < 2)."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        recommended_bits,
    )

    b = recommended_bits(n, target_bucket=target)
    assert 4 <= b <= 24
    unclamped = recommended_bits(n, target_bucket=target, min_bits=0, max_bits=10**6)
    if unclamped == b:  # no clamp bound → occupancy within 2x of target
        occ = n / (1 << b)
        assert target / 2 <= occ <= target * 2 or n <= target


@given(n=st.integers(min_value=1, max_value=10**14))
def test_recommended_cells_properties(n):
    """Cells are a power of two within the clamp range, and when no
    clamp binds the cell count is within a factor √2 of √N."""
    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        recommended_cells,
    )

    c = recommended_cells(n)
    assert 16 <= c <= (1 << 18)
    assert (c & (c - 1)) == 0
    if 16 < c < (1 << 18):
        assert c / (n ** 0.5) <= 2 ** 0.5 + 1e-9
        assert (n ** 0.5) / c <= 2 ** 0.5 + 1e-9


@pytest.mark.slow
def test_bm25_store_equals_scan_on_randomized_corpora(spark, tmp_path):
    """Store-probe ≡ corpus-scan BM25 over seeded randomized corpora and
    probe sets — including terms absent from the corpus and docs with
    no probe term (non-candidates on both paths)."""
    import random

    from bigdatapipelinepysparksqlserver_spark.operators.retrieval import (
        bm25_from_store,
        bm25_search,
        build_postings_store,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "x9", "q"]
    for seed in (7, 21, 99):
        rng = random.Random(seed)
        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choices(vocab, k=rng.randint(1, 30))))
                for i in range(60)
            ],
            "doc_id long, text string",
        )
        terms = rng.sample(vocab, 3) + ["missingterm"]
        store = str(tmp_path / f"ps_{seed}")
        build_postings_store(docs, store, num_buckets=8)
        scan = [tuple(r) for r in bm25_search(docs, terms, top_n=15).collect()]
        probe = [
            tuple(r) for r in bm25_from_store(
                spark, store, terms, top_n=15, num_buckets=8
            ).collect()
        ]
        # same ids, dl, per-term tfs (cast-insensitive), same rounded scores
        assert [(r[0], r[1], *map(int, r[2:-1]), r[-1]) for r in scan] == [
            (r[0], r[1], *map(int, r[2:-1]), r[-1]) for r in probe
        ], f"seed {seed} diverged"


def test_lcg_components_cross_engine_exact():
    """The SF-adaptive LSH oracles regenerate hyperplane_constants'
    6-dp components from the same LCG inside DuckDB (similarity_queries
    _adaptive_sigs_cte). This pins EVERY component up to the policy's
    max (bits=24, tables=4, dim=64) byte-equal across engines — the
    sequence is seed-deterministic and N-independent, so a green run
    here proves the adaptive oracle's plane replay can never diverge
    at any scale factor."""
    import duckdb

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        hyperplane_constants,
    )
    from bigdatapipelinepysparksqlserver_spark.queries.similarity_queries import (
        _LCG_ADD,
        _LCG_MUL,
        _LCG_SEED,
    )

    n = 24 * 4 * 64
    py = [c for plane in hyperplane_constants(64, 24 * 4) for c in plane]
    assert len(py) == n
    rows = duckdb.sql(
        f"""
        WITH RECURSIVE lcg(k, state) AS (
          SELECT 0, CAST({_LCG_SEED} AS HUGEINT)
          UNION ALL
          SELECT k + 1,
                 (state * {_LCG_MUL}::HUGEINT + {_LCG_ADD}::HUGEINT)
                   % 18446744073709551616::HUGEINT
          FROM lcg WHERE k < {n}
        )
        SELECT ROUND(CAST(state AS DOUBLE) / 9223372036854775808.0 - 1.0, 6)
        FROM lcg WHERE k >= 1 ORDER BY k
        """
    ).fetchall()
    assert [r[0] for r in rows] == py


@given(n=st.integers(min_value=1, max_value=10**12))
@settings(max_examples=40, deadline=None)
def test_recommended_bits_matches_sql_formula(n):
    """The adaptive oracles recompute recommended_bits from COUNT(*) in
    SQL (GREATEST/LEAST/FLOOR(LOG2+0.5)); the Python policy must land
    on the identical value for any N — this is the contract that lets
    a policy-sized Spark query and its static oracle agree at every
    scale factor (both the bits=…24 emb form and the max_bits=30
    simhash block-width form)."""
    import duckdb

    from bigdatapipelinepysparksqlserver_spark.operators.similarity import (
        recommended_bits,
    )

    for max_bits in (24, 30):
        sql_bits = duckdb.sql(
            f"SELECT GREATEST(4, LEAST({max_bits}, CAST(FLOOR(LOG2(GREATEST("
            f"CAST({n} AS DOUBLE) / 80.0, 1.0)) + 0.5) AS INT)))"
        ).fetchone()[0]
        assert recommended_bits(n, max_bits=max_bits) == sql_bits


def test_wide_hamming_pairs_invariant_to_block_width(spark):
    """Pigeonhole correctness of the policy-sized blocking: the
    verified pair set (120-bit distance <= 3) must be IDENTICAL for
    every block width — width changes candidate cost only. Corpus is
    built with exact dups, 1-2-token edits (near dups), and disjoint
    docs."""
    import pytest

    from bigdatapipelinepysparksqlserver_spark.operators.dedup import (
        hamming_neighbors_wide,
        simhash_signatures_wide,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, base.replace("kappa", "lambda")),  # near dup
            (4, base.replace("beta", "B").replace("eta", "E")),
            (5, "totally different words nothing shared here at all x y"),
            (6, "one more unrelated document full of other tokens z w q"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash_signatures_wide(docs, text_col="text", id_col="doc_id")
    results = {}
    for w in (4, 9, 15, 30):
        rows = hamming_neighbors_wide(
            sigs, id_col="doc_id", max_distance=3, block_bits=w
        ).collect()
        results[w] = sorted((r.id1, r.id2, r.hamming_distance) for r in rows)
    assert len(set(map(tuple, results.values()))) == 1, results
    assert (1, 2, 0) in results[4]  # the exact dup survives at distance 0
    with pytest.raises(ValueError, match="block_bits"):
        hamming_neighbors_wide(sigs, id_col="doc_id", block_bits=31)
    with pytest.raises(ValueError, match="block_bits"):
        hamming_neighbors_wide(sigs, id_col="doc_id", block_bits=3)


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # source index
            st.integers(min_value=0, max_value=40),  # token count
        ),
        min_size=1,
        max_size=120,
    ),
    budgets=st.tuples(
        st.integers(min_value=0, max_value=400),
        st.integers(min_value=0, max_value=400),
        st.integers(min_value=0, max_value=400),
    ),
)
def test_token_budget_mix_equals_sequential_reference(spark, data, budgets):
    """Property: the bucket-split two-pass selection equals a driver-side
    sequential reference (per source, md5 order, keep while pre-sum <
    budget) on arbitrary corpora and budgets — including zero budgets,
    zero-token docs, and budgets past total supply."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        token_budget_mix,
    )

    rows = [
        (i, " ".join(["w"] * t) if t else "", f"s{s}")
        for i, (s, t) in enumerate(data)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bmap = {f"s{k}": b for k, b in enumerate(budgets)}
    got = sorted(map(tuple, token_budget_mix(docs, bmap).collect()))

    # sequential reference: tokens(empty text) == 0, else whitespace count
    def toks(t):
        return len(t.split()) if t.strip() else 0

    okey = lambda i: hashlib.md5(f"mix:{i}".encode()).hexdigest()
    want = []
    for s in sorted(bmap):
        pre = 0
        members = sorted(
            (r for r in rows if r[2] == s), key=lambda r: (okey(r[0]), r[0])
        )
        for i, t, _ in members:
            n = toks(t)
            if pre < bmap[s]:
                want.append((i, s, n))
            pre += n
    assert got == sorted(want)


# --- hash_split / hash_fold / equi-depth (r7 profiling primitives) ---------

import hashlib as _hl

_KEYS = st.lists(
    st.integers(min_value=-(2**62), max_value=2**62), min_size=1,
    max_size=60, unique=True,
)
_BOUND_SETS = st.lists(
    st.sampled_from("0123456789abcdef"), min_size=1, max_size=3, unique=True
).map(lambda cs: sorted(cs))


@settings(max_examples=15, deadline=None)
@given(keys=_KEYS, bounds=_BOUND_SETS)
def test_hash_split_total_and_reference_exact(spark, keys, bounds):
    """Every key gets exactly ONE label, and it is the label Python's
    own md5 assigns — for randomized keys (negatives included) and
    randomized boundary sets of any width."""
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        hash_split,
    )

    labels = [(f"b{i}", b) for i, b in enumerate(bounds)] + [("rest", None)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.split for r in hash_split(df, "k", labels).collect()}
    assert len(got) == len(keys)
    for k in keys:
        h = _hl.md5(str(k).encode()).hexdigest()
        want = "rest"
        for lab, b in labels[:-1]:
            if h < b:
                want = lab
                break
        assert got[k] == want, (k, h)


@settings(max_examples=15, deadline=None)
@given(keys=_KEYS, k=st.integers(min_value=1, max_value=9))
def test_hash_fold_in_range_and_reference_exact(spark, keys, k):
    from bigdatapipelinepysparksqlserver_spark.operators.sampling import (
        hash_fold,
    )

    df = spark.createDataFrame([(key,) for key in keys], "key long")
    got = {r.key: r.fold for r in hash_fold(df, "key", k).collect()}
    for key in keys:
        want = int(_hl.md5(str(key).encode()).hexdigest()[:15], 16) % k
        assert got[key] == want
        assert 0 <= got[key] < k


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=2,
        max_size=80,
    ),
    bins=st.integers(min_value=2, max_value=8),
)
@pytest.mark.slow
def test_equi_depth_partitions_every_row_exactly_once(spark, vals, bins):
    """Mass conservation under arbitrary skew/duplicates: the bins
    always sum to N and the output is always exactly `bins` rows."""
    from bigdatapipelinepysparksqlserver_spark.operators.stats import (
        equi_depth_histogram,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    rows = equi_depth_histogram(df, "x", bins).collect()
    assert len(rows) == bins
    assert sum(r.cnt for r in rows) == len(vals)


@settings(max_examples=6, deadline=None)
@given(
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3 * 86_400_000_000),
            st.integers(min_value=0, max_value=8 * 3_600_000_000),
        ),
        min_size=1,
        max_size=60,
    ),
    bucket_h=st.sampled_from([1, 6, 24]),
)
def test_peak_concurrency_equals_bruteforce(spark, ivs, bucket_h):
    """Segmented-prefix-sum sweep ≡ explicit per-day simulation for
    arbitrary closed intervals (day spans, zero length, heavy overlap),
    at several bucket widths."""
    from collections import defaultdict
    from datetime import datetime, timezone

    from bigdatapipelinepysparksqlserver_spark.operators.temporal import (
        US_PER_DAY,
        peak_concurrency,
    )

    base = int(
        datetime(2024, 5, 1, tzinfo=timezone.utc).timestamp() * 1_000_000
    )
    spans = [(base + s, base + s + d) for s, d in ivs]
    bounds = defaultdict(list)
    starts = defaultdict(int)
    for su, eu in spans:
        for day in range(su // US_PER_DAY, eu // US_PER_DAY + 1):
            cs = max(su, day * US_PER_DAY)
            ce = min(eu, day * US_PER_DAY + US_PER_DAY - 1)
            bounds[day].append((cs, 1))
            bounds[day].append((ce + 1, -1))
            starts[day] += 1
    want = {}
    for day, bs in bounds.items():
        run = peak = 0
        for _, dlt in sorted(bs, key=lambda t: (t[0], t[1])):
            run += dlt
            peak = max(peak, run)
        want[day] = (starts[day], peak)

    df = spark.createDataFrame(
        [(s, e) for s, e in spans], "su long, eu long"
    ).select(
        F.timestamp_micros("su").alias("s"),
        F.timestamp_micros("eu").alias("e"),
    )
    got = {
        r["day"]: (r["active_intervals"], r["peak_concurrent"])
        for r in peak_concurrency(
            df, "s", "e", bucket_us=bucket_h * 3_600_000_000
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# HTML extraction: the Spark expression tree vs an independent pure-
# python reference over random pages (r8)
# ---------------------------------------------------------------------------

def _py_html_extract(html: str, min_tokens: int = 5):
    """Independent python replica of operators/text.py html_extract."""
    import re

    kept, n_links_total = [], 0
    lines = html.split("\n")
    for l in lines:
        links = (len(l) - len(l.replace("<a ", ""))) // 3
        n_links_total += links
        stripped = re.sub(" +", " ", re.sub("<[^>]+>", " ", l)).strip()
        tokens = 0 if stripped == "" else len(stripped.split(" "))
        if tokens >= min_tokens and links * 3 <= tokens:
            kept.append(stripped)
    text = "\n".join(kept)
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        text = text.replace(ent, ch)
    return text, len(lines), len(kept), n_links_total


_WORD = st.text(
    alphabet="abcdef <>&;#39ltgqupotnbsam/\"'",
    min_size=0, max_size=12,
)
_LINE = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)
_PAGE = st.lists(
    st.one_of(
        _LINE,
        _LINE.map(lambda s: f'<nav><a href="/">{s}</a> <a href="/x">x</a></nav>'),
        _LINE.map(lambda s: f"<p>{s}</p>"),
        st.just("<p>Tags &amp; more &lt;x&gt; &quot;q&quot; here today now</p>"),
    ),
    min_size=1, max_size=8,
).map("\n".join)


@settings(max_examples=20, deadline=None)
@given(page=_PAGE)
@pytest.mark.slow
def test_html_extract_matches_python_reference(spark, page):
    """For random tag/entity/anchor soup (including degenerate lines:
    empty, unclosed tags, bare entities), the Spark expression tree and
    the python reference agree on the extracted text AND all three
    counters — the full filter/strip/decode contract, not just the
    happy path."""
    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        html_extract,
    )

    df = spark.createDataFrame([(1, page)], "id long, html string")
    r = df.select(html_extract(F.col("html")).alias("e")).select("e.*").collect()[0]
    text, n_lines, n_kept, n_links = _py_html_extract(page)
    assert (r.text, r.n_lines, r.n_kept, r.n_links) == (
        text, n_lines, n_kept, n_links,
    )


@given(
    toks=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=2), min_size=6, max_size=40
    )
)
@settings(max_examples=10, deadline=None)
def test_winnow_fingerprints_property_vs_reference(toks):
    """Winnowing selection equals the direct python reference on random
    short-alphabet token lists (heavy gram collisions stress the
    rightmost-tie argmin and the overlapping-window DISTINCT)."""
    import hashlib

    from bigdatapipelinepysparksqlserver_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )
    from bigdatapipelinepysparksqlserver_spark.session import get_spark

    spark = get_spark("winnow-prop")
    text = " ".join(toks)

    def ref(k=WINNOW_K, w=WINNOW_W):
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams]
        fps = set()
        for i in range(len(hs) - w + 1):
            h, negp = min((hs[i + j], -(i + j + 1)) for j in range(w))
            fps.add((h, -negp))
        return fps

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r.fp_hash, r.fp_pos) for r in winnow_fingerprints(df).collect()
    }
    assert got == ref()


_ZONE_VALUE_STRATEGIES = [
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.decimals(
        allow_nan=False, allow_infinity=False, places=2,
        min_value=-10**12, max_value=10**12,
    ),
    st.datetimes(
        min_value=__import__("datetime").datetime(1970, 1, 2),
        max_value=__import__("datetime").datetime(2100, 1, 1),
    ),
    st.text(alphabet="abcxyz 0123", min_size=0, max_size=12),
]


@given(
    data=st.data(),
    type_ix=st.integers(min_value=0, max_value=len(_ZONE_VALUE_STRATEGIES) - 1),
)
@settings(max_examples=200, deadline=None)
def test_zone_map_encoding_is_containment_conservative(data, type_ix):
    """Zone-map conservativeness (r10, no Spark): for any same-type
    value set, the STORED bounds [enc(min, widen=-1), enc(max, +1)]
    must never exclude an in-range probe — i.e. the pruning predicate
    (stored_min > enc(probe) or stored_max < enc(probe)) is False for
    every value inside [min, max]. This is the invariant read_pruned's
    losslessness rests on, per supported type (int, float, Decimal
    with its ulp-widened float encoding, datetime's fixed-width
    strftime, plain strings)."""
    from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
        _stat_encode,
    )

    strat = _ZONE_VALUE_STRATEGIES[type_ix]
    vals = data.draw(st.lists(strat, min_size=2, max_size=8))
    lo, hi = min(vals), max(vals)
    stored_min = _stat_encode(lo, widen=-1)
    stored_max = _stat_encode(hi, widen=1)
    # encoding preserves order at the bound level
    assert stored_min <= stored_max
    for probe in vals:
        e = _stat_encode(probe)
        assert not (stored_min > e), (lo, hi, probe)
        assert not (stored_max < e), (lo, hi, probe)
    # ...and a probe strictly outside a DEGENERATE zone on the safe
    # side is prunable for exact types (ints): no false keeps forever
    if type_ix == 0 and hi < 2**40:
        assert _stat_encode(hi + 1) > stored_max


# ---------------------------------------------------------------------------
# Zone-map predicate pruning soundness (r11 read_where): for ANY
# conjunctive predicate the extractor + zone check may only prune
# partitions containing NO matching row — DuckDB is the row-level
# referee. This pins the quote-masking fix (a string literal spelling
# 'x and v > 5' must never fake a conjunct into a wrong bound).
# ---------------------------------------------------------------------------

_TRICKY_STRINGS = [
    "plain",
    "x and v > 5",
    "v between 1 and 2",
    "or maybe not",
    "a <= b",
    "zz",
]

_row = st.tuples(
    st.integers(min_value=-20, max_value=20),
    st.sampled_from(_TRICKY_STRINGS),
    st.datetimes(
        min_value=datetime(2024, 5, 1), max_value=datetime(2024, 8, 1)
    ).map(lambda d: d.replace(microsecond=0)),
)
_partitions = st.lists(
    st.lists(_row, min_size=1, max_size=4), min_size=1, max_size=5
)

_num_atom = st.tuples(
    st.sampled_from(["=", "==", "<", "<=", ">", ">="]),
    st.integers(min_value=-20, max_value=20),
).map(lambda t: f"v {t[0]} {t[1]}")
_between_atom = st.tuples(
    st.integers(min_value=-20, max_value=20),
    st.integers(min_value=0, max_value=10),
).map(lambda t: f"v BETWEEN {t[0]} AND {t[0] + t[1]}")
_str_atom = st.tuples(
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.sampled_from(_TRICKY_STRINGS),
).map(lambda t: f"s {t[0]} '{t[1]}'")
_ts_atom = st.tuples(
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.dates(
        min_value=datetime(2024, 4, 20).date(),
        max_value=datetime(2024, 8, 10).date(),
    ),
    # bare date / space-separated / 'T'-separated ISO spellings — the
    # 'T' form compares ABOVE every space-separated zone spelling of
    # the same instant and exposed the r11 lower-bound wrong-prune
    st.sampled_from(["", " 12:30:00", "T12:30:00"]),
).map(lambda t: f"ts {t[0]} '{t[1].isoformat()}{t[2]}'")
# DATE-typed column probed with a time-bearing literal: both engines
# cast the literal to DATE by TRUNCATION, so the row filter is weaker
# than the full-string zone compare — the other r11 wrong-prune class
_d_atom = st.tuples(
    st.sampled_from(["=", "<", "<=", ">", ">="]),
    st.dates(
        min_value=datetime(2024, 4, 20).date(),
        max_value=datetime(2024, 8, 10).date(),
    ),
    st.sampled_from(["", " 12:30:00", "T06:00:00"]),
).map(lambda t: f"d {t[0]} '{t[1].isoformat()}{t[2]}'")
_predicate = st.lists(
    st.one_of(_num_atom, _between_atom, _str_atom, _ts_atom, _d_atom),
    min_size=1,
    max_size=3,
).map(" AND ".join)


@given(parts=_partitions, pred=_predicate)
@settings(max_examples=120, deadline=None)
def test_zone_prune_never_drops_a_matching_row(parts, pred):
    import duckdb

    from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
        _stat_encode,
        extract_prune_ranges,
        zones_may_match,
    )

    ranges = extract_prune_ranges(pred, ["v", "s", "ts", "d"])
    kept = set()
    for i, rows in enumerate(parts):
        zones = {
            "v": [
                _stat_encode(min(r[0] for r in rows), widen=-1),
                _stat_encode(max(r[0] for r in rows), widen=1),
            ],
            "s": [
                _stat_encode(min(r[1] for r in rows), widen=-1),
                _stat_encode(max(r[1] for r in rows), widen=1),
            ],
            "ts": [
                _stat_encode(min(r[2] for r in rows), widen=-1),
                _stat_encode(max(r[2] for r in rows), widen=1),
            ],
            "d": [
                _stat_encode(min(r[2].date() for r in rows), widen=-1),
                _stat_encode(max(r[2].date() for r in rows), widen=1),
            ],
        }
        if zones_may_match(zones, ranges):
            kept.add(i)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (pid INT, v INT, s VARCHAR, ts TIMESTAMP, d DATE)"
    )
    for i, rows in enumerate(parts):
        for v, s, ts in rows:
            con.execute(
                "INSERT INTO t VALUES (?, ?, ?, ?, ?)",
                [i, v, s, ts, ts.date()],
            )
    matching = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT pid FROM t WHERE {pred}"
        ).fetchall()
    }
    con.close()
    assert matching <= kept, (
        f"pruned a partition with matching rows: pred={pred!r} "
        f"ranges={ranges!r} matching={matching} kept={kept}"
    )
