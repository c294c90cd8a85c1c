"""Unit tests for the as-of join and banded range join operators —
boundary semantics (strict/inclusive edges, timestamp ties, empty
matches) on hand-built rows where the expected answer is enumerable.
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F

from bigdatapipelinepysparksqlserver_spark.operators.temporal import asof_join, range_join


def _ts(s: int):
    return datetime(2024, 1, 1, 0, 0, s)


def test_asof_picks_latest_prior_row(spark):
    left = spark.createDataFrame(
        [(100, 1, _ts(10)), (101, 1, _ts(30)), (102, 2, _ts(5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, 1, _ts(1), "a"), (2, 1, _ts(9), "b"), (3, 1, _ts(20), "c")],
        "event_id long, user_id long, ts timestamp, tag string",
    )
    out = {
        r["event_id"]: r["asof_tag"]
        for r in asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            payload_cols=["tag"], seq_col="event_id",
        ).collect()
    }
    assert out == {100: "b", 101: "c", 102: None}  # 102: no rows for user 2


def test_asof_tie_on_ts_resolved_by_seq(spark):
    # right row at the SAME timestamp as the left row: joined only if its
    # seq (event_id) is smaller — the (ts, seq) total order, not a hash race.
    left = spark.createDataFrame(
        [(10, 1, _ts(5)), (1, 1, _ts(5))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(5, 1, _ts(5), "same-ts")], "event_id long, user_id long, ts timestamp, tag string"
    )
    out = {
        r["event_id"]: r["asof_tag"]
        for r in asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            payload_cols=["tag"], seq_col="event_id",
        ).collect()
    }
    assert out == {10: "same-ts", 1: None}  # seq 5 < 10 joins; 5 > 1 does not


def test_asof_single_shuffle_plan(spark, executed_plan):
    left = spark.createDataFrame([(1, 1, _ts(1))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(2, 1, _ts(0), "x")], "event_id long, user_id long, ts timestamp, tag string"
    )
    plan = executed_plan(
        asof_join(left, right, key="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["tag"], seq_col="event_id")
    )
    assert "Join" not in plan  # union+window, not a join explosion
    assert plan.count("Exchange") <= 2  # union inputs coalesce into one key shuffle


def test_range_join_half_open_band(spark):
    left = spark.createDataFrame([(1, 7, _ts(10))], "id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(20, 7, _ts(4)), (21, 7, _ts(5)), (22, 7, _ts(9)), (23, 7, _ts(10)), (24, 8, _ts(9))],
        "id long, user_id long, ts timestamp",
    )
    # band [ts-5s, ts): 5..9 inclusive-lower, exclusive-upper; other key excluded
    got = sorted(
        r["r_id"]
        for r in range_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            lower_us=-5_000_000, upper_us=0,
        ).collect()
    )
    assert got == [21, 22]


def test_range_join_matches_across_bin_boundary(spark):
    # right row lands in a different bin than the left row's own bin;
    # the candidate-bin explosion must still find it.
    left = spark.createDataFrame([(1, 7, _ts(31))], "id long, user_id long, ts timestamp")
    right = spark.createDataFrame([(20, 7, _ts(29))], "id long, user_id long, ts timestamp")
    got = range_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        lower_us=-30_000_000, upper_us=0, bin_width_us=30_000_000,
    ).collect()
    assert [r["r_id"] for r in got] == [20]


def test_range_join_no_duplicate_pairs(spark):
    # a right row in the overlap of two candidate bins must pair exactly once
    left = spark.createDataFrame([(1, 7, _ts(10))], "id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(20, 7, _ts(8)), (20, 7, _ts(8))][:1], "id long, user_id long, ts timestamp"
    )
    got = range_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        lower_us=-5_000_000, upper_us=0, bin_width_us=2_000_000,
    ).collect()
    assert len(got) == 1


def test_user_tier_history_scd2_invariants(spark):
    """SCD2 contract over real data: per user, validity runs are
    non-overlapping and ordered, adjacent runs always CHANGE tier
    (islands are maximal), day coverage is gapless in active days, and
    exactly one run per user is current."""
    from collections import defaultdict

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = REGISTRY["user_tier_history"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        assert r["valid_from"] <= r["valid_to"]
        assert r["n_days"] >= 1
        by_user[r["user_id"]].append(r)
    for runs in by_user.values():
        runs.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in runs) == 1
        assert runs[-1]["is_current"]
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to"] < b["valid_from"]  # non-overlapping
            assert a["tier"] != b["tier"]  # maximal islands


def test_event_transition_matrix_rows_are_distributions(spark):
    """Each from_type's outgoing probabilities must sum to 1 (6-dp
    rounding tolerance) with positive exact counts."""
    from collections import defaultdict

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = REGISTRY["event_transition_matrix"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    sums = defaultdict(float)
    for r in rows:
        assert r["n_transitions"] >= 1
        assert 0.0 < r["p_next"] <= 1.0
        sums[r["from_type"]] += r["p_next"]
    for s in sums.values():
        assert abs(s - 1.0) < 1e-4


def test_customer_rolling_spend_brute_force(spark, tmp_path):
    """The RANGE-framed 90-day window must equal a brute-force per-row
    recomputation (inclusive 89-days-back boundary, same-day peers in
    frame together), on a corpus with boundary-straddling dates."""
    from datetime import datetime

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = []
    dates = [
        "2000-01-01", "2000-02-15", "2000-03-30", "2000-03-31",
        "2000-03-31", "2000-06-30", "2000-09-27", "2000-09-28",
    ]
    for i, ds in enumerate(dates):
        rows.append(
            (
                i + 1,
                1 if i < 6 else 2,  # two customers
                "O",
                100.0 + i,
                datetime.fromisoformat(ds + "T00:00:00"),
                "1-URGENT",
            )
        )
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    got = {
        r["o_orderkey"]: (r["spend_90d_cents"], r["n_orders_90d"])
        for r in REGISTRY["customer_rolling_spend"].fn(
            spark, str(tmp_path)
        ).collect()
    }

    day = {
        k + 1: datetime.fromisoformat(ds).toordinal() for k, ds in enumerate(dates)
    }
    cust = {k + 1: (1 if k < 6 else 2) for k in range(len(dates))}
    cents = {k + 1: int(round((100.0 + k) * 100)) for k in range(len(dates))}
    for k in day:
        inc = [
            j
            for j in day
            if cust[j] == cust[k] and day[k] - 89 <= day[j] <= day[k]
        ]
        assert got[k] == (sum(cents[j] for j in inc), len(inc)), k


def test_user_decay_score_brute_force(spark, tmp_path):
    """The decayed score must equal the per-row integer-scaled
    recomputation: value halves every 7 days of age at 2024-02-01,
    each contribution rounded at 1e-6 cents BEFORE the sum."""
    from datetime import datetime

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    evs = [
        (1, "2024-02-01T12:00:00", 7, "c", 10.0),
        (2, "2024-01-25T00:00:00", 7, "c", 10.0),
        (3, "2024-01-18T23:59:59", 7, "v", 40.0),
        (4, "2024-01-29T06:00:00", 7, "v", 3.33),
        (5, "2024-01-10T00:00:00", 8, "c", 123.45),
    ]
    spark.createDataFrame(
        [
            (eid, datetime.fromisoformat(ts), uid, et, v, "{}")
            for eid, ts, uid, et, v in evs
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    ref = datetime.fromisoformat("2024-02-01").toordinal()
    acc: dict = {}
    for eid, ts, uid, et, v in evs:
        age = ref - datetime.fromisoformat(ts).toordinal()
        contrib = int(round(round(v * 100) * (0.5 ** (age / 7.0)) * 1e6))
        n, s = acc.get(uid, (0, 0))
        acc[uid] = (n + 1, s + contrib)

    got = {
        r["user_id"]: (r["n_events"], r["decayed_cents"])
        for r in REGISTRY["user_decay_score"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        uid: (n, round(s / 1e6, 6)) for uid, (n, s) in acc.items()
    }


def test_user_activity_spine_contract(spark):
    """Per user the spine is contiguous from first to last active day,
    endpoints are active, and active-row count equals the user's
    distinct active days (no invented activity, no dropped days)."""
    from collections import defaultdict

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = REGISTRY["user_activity_spine"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["day_index"], r["active"]))
    assert by_user
    for days in by_user.values():
        days.sort()
        idx = [d for d, _ in days]
        assert idx == list(range(idx[0], idx[-1] + 1))  # contiguous, no dups
        assert days[0][1] and days[-1][1]  # endpoints active


def test_user_streaks_brute_force(spark, tmp_path):
    """Streak stats must equal a brute-force recomputation on a corpus
    with known gaps (multi-day streaks, singletons, duplicate events on
    one day)."""
    from datetime import datetime

    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    days = {
        1: ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-07",
            "2024-01-08", "2024-01-20"],
        2: ["2024-01-05"],
        3: ["2024-01-01", "2024-01-01", "2024-01-02"],  # dup events same day
    }
    rows = []
    eid = 0
    for uid, ds in days.items():
        for d in ds:
            eid += 1
            rows.append(
                (eid, datetime.fromisoformat(d + "T10:00:00"), uid, "c", 1.0, "{}")
            )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["user_id"]: (r["n_streaks"], r["longest_streak"], r["active_days"])
        for r in REGISTRY["user_streaks"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: (3, 3, 6), 2: (1, 1, 1), 3: (1, 2, 2)}


# --------------------------------------------------------------------- sweep


def _brute_peaks(intervals):
    """Reference sweep: per-day peak via explicit boundary simulation."""
    from collections import defaultdict

    US_DAY = 86_400_000_000
    bounds = defaultdict(list)
    starts = defaultdict(int)
    for s, e in intervals:
        su, eu = int(s.timestamp() * 1e6), int(e.timestamp() * 1e6)
        for day in range(su // US_DAY, eu // US_DAY + 1):
            cs = max(su, day * US_DAY)
            ce = min(eu, day * US_DAY + US_DAY - 1)
            bounds[day].append((cs, 1))
            bounds[day].append((ce + 1, -1))
            starts[day] += 1
    out = {}
    for day, bs in bounds.items():
        run = peak = 0
        for _, d in sorted(bs, key=lambda t: (t[0], t[1])):
            run += d
            peak = max(peak, run)
        out[day] = (starts[day], peak)
    return out


def test_peak_concurrency_edges(spark):
    """Midnight-spanning, back-to-back at the same microsecond, and
    single-point intervals against an explicit simulation — including
    the closed-interval rule (end at X and start at X ARE concurrent;
    start at X+1µs is not)."""
    from datetime import timedelta

    from bigdatapipelinepysparksqlserver_spark.operators.temporal import (
        peak_concurrency,
    )

    t0 = datetime(2024, 1, 1, 23, 30, 0)
    ivs = [
        (t0, t0 + timedelta(hours=1)),             # spans midnight
        (t0 + timedelta(minutes=10), t0 + timedelta(minutes=10)),  # point
        (t0 + timedelta(minutes=10), t0 + timedelta(minutes=20)),
        # starts exactly when the previous ends (concurrent at that µs)
        (t0 + timedelta(minutes=20), t0 + timedelta(minutes=25)),
        # starts 1µs after an end (NOT concurrent)
        (
            t0 + timedelta(minutes=25, microseconds=1),
            t0 + timedelta(minutes=26),
        ),
        # second-day-only interval
        (t0 + timedelta(hours=2), t0 + timedelta(hours=3)),
    ]
    df = spark.createDataFrame(ivs, "s timestamp, e timestamp")
    got = {
        r["day"]: (r["active_intervals"], r["peak_concurrent"])
        for r in peak_concurrency(df, "s", "e").collect()
    }
    assert got == _brute_peaks(ivs)
    # sanity on the hand-known values: 3 overlap at 23:40 on day 1
    day0 = ivs[0][0].timestamp() * 1e6 // 86_400_000_000
    assert got[int(day0)][1] == 3


def test_peak_concurrency_bucket_width_invariance(spark):
    """The segmented prefix sum must give identical answers at any
    bucket width (carry decomposition correctness)."""
    import random

    from datetime import timedelta

    from bigdatapipelinepysparksqlserver_spark.operators.temporal import (
        peak_concurrency,
    )

    rng = random.Random(7)
    base = datetime(2024, 3, 1)
    ivs = []
    for _ in range(200):
        s = base + timedelta(seconds=rng.randrange(0, 3 * 86400))
        ivs.append((s, s + timedelta(seconds=rng.randrange(0, 7200))))
    df = spark.createDataFrame(ivs, "s timestamp, e timestamp")
    wide = {
        (r["day"], r["active_intervals"], r["peak_concurrent"])
        for r in peak_concurrency(df, "s", "e").collect()
    }
    narrow = {
        (r["day"], r["active_intervals"], r["peak_concurrent"])
        for r in peak_concurrency(
            df, "s", "e", bucket_us=600_000_000
        ).collect()
    }
    assert wide == narrow == set(
        (d, a, p) for d, (a, p) in _brute_peaks(ivs).items()
    )


def test_pit_join_never_uses_future_tier(spark):
    """Point-in-time semantics on crafted history: an event on the
    FIRST day of a new island gets the new tier (inclusive
    valid_from); an event before any island start gets no match."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from bigdatapipelinepysparksqlserver_spark.operators.temporal import (
        asof_join,
    )

    hist = spark.createDataFrame(
        [
            (1, "low", datetime(2024, 1, 1), -1),
            (1, "high", datetime(2024, 1, 5), -1),
        ],
        "user_id long, tier string, valid_from timestamp, seq long",
    )
    evs = spark.createDataFrame(
        [
            (1, datetime(2023, 12, 31), 10),  # before history: null
            (1, datetime(2024, 1, 1), 11),    # island 1 first day: low
            (1, datetime(2024, 1, 4), 12),    # last day of island 1: low
            (1, datetime(2024, 1, 5), 13),    # island 2 first day: high
            (1, datetime(2024, 1, 9), 14),    # later: high, never low
        ],
        "user_id long, day_ts timestamp, seq long",
    )
    out = {
        r["seq"]: r["pit_tier"]
        for r in asof_join(
            evs, hist, key="user_id", left_ts="day_ts",
            right_ts="valid_from", payload_cols=["tier"], seq_col="seq",
            prefix="pit_",
        ).collect()
    }
    assert out == {10: None, 11: "low", 12: "low", 13: "high", 14: "high"}


def test_multitouch_credit_conservation(spark):
    """Attribution must conserve credit: summed credit across touch
    types + direct equals the purchase count (to 6-dp share rounding:
    each purchase's shares sum to 1 within 1e-6 × touches)."""
    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    rows = REGISTRY["multitouch_attribution"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_type = {r["touch_type"]: r for r in rows}
    assert set(by_type) <= {"click", "view", "direct"}
    total_credit = sum(r["credit"] for r in rows)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    import pyspark.sql.functions as F

    n_purchases = ev.where(F.col("event_type") == "purchase").count()
    n_touches = sum(
        r["n_touches"] for r in rows if r["touch_type"] != "direct"
    )
    assert abs(total_credit - n_purchases) <= n_touches * 1e-6 + 1e-9


def test_user_survival_km_censoring_contract(spark, tmp_path):
    """KM table on a hand-built corpus: a user whose last event falls
    within KM_CENSOR_DAYS of the corpus' final day is censored (counted
    in the risk set, not in the hazard numerator); everyone else churns
    at their observed lifetime. n_risk(t) = users with lifetime >= t."""
    from bigdatapipelinepysparksqlserver_spark.queries import REGISTRY

    def ev(eid, uid, day):
        return (eid, datetime.fromisoformat(day + "T12:00:00"), uid, "view", 1.0, "{}")

    rows = [
        ev(1, 1, "2000-01-01"), ev(2, 1, "2000-01-10"),   # t=9, churned
        ev(3, 2, "2000-01-05"), ev(4, 2, "2000-01-14"),   # t=9, churned
        ev(5, 3, "2000-01-20"), ev(6, 3, "2000-01-29"),   # t=9, censored (3d from end)
        ev(7, 4, "2000-01-25"),                           # t=0, churned (7d = not < 7)
        ev(8, 5, "2000-02-01"),                           # t=0, censored (0d)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["day_t"]: (r["n_risk"], r["n_churned"], r["n_censored"], r["hazard"])
        for r in REGISTRY["user_survival_km"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        0: (5, 1, 1, 0.2),
        9: (3, 2, 1, round(2 / 3, 6)),
    }
