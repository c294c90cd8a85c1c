"""Python-reference tests for the r8-continuation analytics batch:
rolling distinct actives, Pareto frontier, FIR EWMA, column profile,
median/MAD outliers, order-weekday uniformity, trimmed mean and
document novelty. Each query is exercised off a synthetic parquet
sf_dir (the user_decay_score pattern) against an independently-coded reference —
including the tie/edge cases the house oracles can't reach (silent
days, duplicate skyline points, same-ts events, <8-event users)."""

from __future__ import annotations

from datetime import datetime

from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        [
            (eid, datetime.fromisoformat(ts), uid, et, v, props)
            for eid, ts, uid, et, v, props in rows
        ],
        EVENT_SCHEMA,
    ).write.parquet(str(tmp_path / "events.parquet"))


def test_rolling_active_users_python_reference(spark, tmp_path):
    """Silent days report 0 (the spine), windows straddling the gap
    still count users from up to 6 days back, and a user active twice
    in one window counts once."""
    rows = [
        # day 0: users 1,2 — user 1 twice (dedup inside the window)
        (1, "2024-01-01T08:00:00", 1, "c", 1.0, "{}"),
        (2, "2024-01-01T09:00:00", 1, "c", 1.0, "{}"),
        (3, "2024-01-01T10:00:00", 2, "c", 1.0, "{}"),
        # day 8 (gap: days 1-7 silent except windows carrying day 0)
        (4, "2024-01-09T00:00:00", 3, "v", 2.0, "{}"),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["win_di"]: r["active_users_7d"]
        for r in REGISTRY["rolling_active_users"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    d0 = datetime.fromisoformat("2024-01-01").toordinal() - datetime(
        1970, 1, 1
    ).toordinal()
    # days 0..6 trailing windows include day 0's two users; day 7 sees
    # nobody (day 0 aged out, day 8 not yet); day 8 sees user 3 only
    expect = {d0 + k: 2 for k in range(7)}
    expect[d0 + 7] = 0
    expect[d0 + 8] = 1
    assert got == expect


def test_pareto_frontier_bruteforce(spark, tmp_path):
    """Skyline vs brute-force dominance, with the tie cases the window
    derivation must get right: duplicate (price, size) points (both
    survive), same price different size (only the max survives), and
    cross-brand isolation."""
    parts = [
        # brand A: (10, 5) dominates (12, 5) and (10, 3); duplicate
        # (10, 5) twins both survive; (8, 2) survives (cheaper),
        # (15, 9) survives (bigger)
        (1, "A", 10.0, 5),
        (2, "A", 10.0, 5),
        (3, "A", 12.0, 5),
        (4, "A", 10.0, 3),
        (5, "A", 8.0, 2),
        (6, "A", 15.0, 9),
        # brand B: a copy of a dominated-in-A point is undominated in B
        (7, "B", 12.0, 5),
    ]
    spark.createDataFrame(
        [(pk, f"part{pk}", b, "t", sz, pr) for pk, b, pr, sz in parts],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(str(tmp_path / "part.parquet"))
    got = sorted(
        r["p_partkey"]
        for r in REGISTRY["part_pareto_frontier"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    expect = []
    for pk, b, pr, sz in parts:
        dominated = any(
            qb == b
            and qpr <= pr
            and qsz >= sz
            and (qpr < pr or qsz > sz)
            for qk, qb, qpr, qsz in parts
            if qk != pk
        )
        if not dominated:
            expect.append(pk)
    assert got == sorted(expect)


def test_user_value_ewma_python_reference(spark, tmp_path):
    """8-term FIR vs a per-user Python simulation: short histories
    (<8 events) renormalize the denominator, same-ts events order by
    event_id, and the reported row is the (ts, event_id)-latest."""
    rows = [
        # user 1: 3 events, two at the same timestamp
        (10, "2024-01-01T00:00:00", 1, "c", 1.5, "{}"),
        (11, "2024-01-02T00:00:00", 1, "c", 2.25, "{}"),
        (12, "2024-01-02T00:00:00", 1, "c", 4.0, "{}"),
        # user 2: 10 events — truncation engages
        *[
            (20 + k, f"2024-01-{k + 1:02d}T06:00:00", 2, "v", float(k), "{}")
            for k in range(10)
        ],
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["n_events"], r["ewma_last"])
        for r in REGISTRY["user_value_ewma"].fn(spark, str(tmp_path)).collect()
    }
    expect = {}
    for uid in {r[2] for r in rows}:
        hist = sorted(
            (ts, eid, v) for eid, ts, u, _, v, _ in rows if u == uid
        )
        ys = [int(round(v * 1_000_000)) for _, _, v in hist]
        last8 = ys[-8:][::-1]  # newest first
        num = sum((1 << (7 - k)) * y for k, y in enumerate(last8))
        den = sum((1 << (7 - k)) for k in range(len(last8)))
        expect[uid] = (len(ys), round(num / den / 1_000_000.0, 6))
    assert got == expect


def test_events_profile_python_reference(spark, tmp_path):
    """Null props are counted (and excluded from distinct), duplicate
    values collapse, and every column reports the full row count."""
    rows = [
        (1, "2024-01-01T00:00:00", 1, "c", 1.5, '{"a":1}'),
        (2, "2024-01-01T00:00:00", 1, "c", 1.5, None),
        (3, "2024-01-02T00:00:00", 2, "v", 2.5, None),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in REGISTRY["events_profile"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        "event_id": (3, 0, 3),
        "ts": (3, 0, 2),
        "user_id": (3, 0, 2),
        "event_type": (3, 0, 2),
        "value": (3, 0, 2),
        "props": (3, 2, 1),
    }


def test_value_mad_outliers_python_reference(spark, tmp_path):
    """Lower-median convention on even counts, MAD over the deviation
    domain, and the exact 10000·d > 44478·MAD cutoff — checked against
    a direct Python reference with a gross outlier present."""
    vals = {
        "a": [1.0, 1.0, 2.0, 100.0],  # even count; 100 is the outlier
        "b": [5.0, 5.0, 5.0],  # MAD 0: any deviation >0 is an outlier
    }
    rows = [
        (i, f"2024-01-01T{i % 24:02d}:00:00", 1, et, v, "{}")
        for i, (et, v) in enumerate(
            (et, v) for et, vs in vals.items() for v in vs
        )
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n"], r["median"], r["mad"], r["n_outliers"])
        for r in REGISTRY["value_mad_outliers"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    def lower_median(xs):
        xs = sorted(xs)
        cum, n = 0, len(xs)
        from collections import Counter

        for v, c in sorted(Counter(xs).items()):
            cum += c
            if 2 * cum >= n:
                return v

    expect = {}
    for et, vs in vals.items():
        iv = [int(round(v * 1_000_000)) for v in vs]
        med = lower_median(iv)
        ds = [abs(v - med) for v in iv]
        mad = lower_median(ds)
        n_out = sum(1 for d in ds if 10000 * d > 44478 * mad)
        expect[et] = (
            len(iv),
            round(med / 1e6, 6),
            round(mad / 1e6, 6),
            n_out,
        )
    assert got == expect


def test_order_dow_uniformity_hand_computed(spark, tmp_path):
    """Hand-computed chi-square: 14 orders over two ISO weeks, Monday
    doubled at Sunday's expense — χ² = Σ(o−2)²/2 = (4−2)²/2 + (0−2)²/2
    = 4.0; a perfectly uniform week scores 0 (checked via the exact
    integer rearrangement)."""
    from datetime import timedelta

    base = datetime(2024, 1, 1)  # a Monday
    days = []
    for w in range(2):
        for d in range(7):
            days.append(base + timedelta(weeks=w, days=d))
    # move both Sunday orders onto Monday
    days = [d for d in days if d.weekday() != 6] + [base, base]
    rows = [
        (i, i, "O", 10.0, d, "1-URGENT") for i, d in enumerate(days)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    [r] = (
        REGISTRY["order_dow_uniformity"].fn(spark, str(tmp_path)).collect()
    )
    assert (r["n"], r["chi2"], r["dof"]) == (14, 4.0, 6)


def test_trimmed_mean_matches_sorted_list_definition(spark, tmp_path):
    """The value-domain-compressed trimmed mean must equal the textbook
    sorted-list definition (drop n//20 from each end, average the
    rest), including boundary values whose multiplicity straddles the
    cut."""
    from datetime import datetime

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    # 23 orders in one priority: k = 1 -> drop exactly one cheapest and
    # one priciest; duplicated extremes make the boundary split partial
    prices = [1.00] * 3 + [5.25] * 10 + [7.10] * 8 + [99.99] * 2
    rows = [
        (i + 1, 1, "O", p, datetime(2024, 1, 1), "1-URGENT")
        for i, p in enumerate(prices)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    got = {
        r["priority"]: (r["n_orders"], r["n_kept"], r["trimmed_mean"])
        for r in REGISTRY["order_value_trimmed_mean"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    s = sorted(prices)
    k = len(s) // 20
    kept = s[k : len(s) - k]
    want = round(sum(kept) / len(kept), 6)
    assert got == {"1-URGENT": (len(s), len(kept), want)}


def test_doc_novelty_unique_vs_shared_trigrams(spark, tmp_path):
    """A trigram appearing in two docs is novel in neither; a trigram
    repeated WITHIN one doc only still counts as unique (per-doc
    distinct before the corpus count)."""
    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = [
        (1, "a b c d", "en", "s", 7),        # trigrams: 'a b c', 'b c d'
        (2, "a b c x y", "en", "s", 9),      # shares 'a b c'
        (3, "q q q q q", "en", "s", 9),      # 'q q q' x3 -> one distinct
        (4, "z z", "en", "s", 3),            # < 3 tokens -> excluded
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_trigrams"], r["n_unique"], r["novelty"])
        for r in REGISTRY["doc_novelty_score"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (2, 1, 0.5),              # 'a b c' shared with doc 2; 'b c d' unique
        2: (3, 2, round(2 / 3, 6)),  # 'b c x', 'c x y' unique
        3: (1, 1, 1.0),              # 'q q q' x3 collapses to ONE distinct trigram
    }
