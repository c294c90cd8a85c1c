"""Analytic window-function surface: offset functions (lag/lead), framed
moving aggregates, SCD2 history and point-in-time joins — each with a
DuckDB oracle twin. Orders are made TOTAL with an (ts, event_id)
tie-break so the two engines agree row-for-row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.catalog import Catalog
from .registry import query

# --------------------------------------------------------------------------
# lag / lead / framed moving average over the event stream
# --------------------------------------------------------------------------

EVENT_GAPS_ORACLE = """
SELECT event_id, user_id, ts,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       LEAD(event_type) OVER w AS next_type,
       ROUND(AVG(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("event_gaps", oracle=EVENT_GAPS_ORACLE)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag), next event type (lead), and a
    3-row moving average of value — the offset + framed-aggregate window
    trio in one pass.

    Scale: all three windows share ONE partitioning and ordering, so
    Catalyst plans a single shuffle on user_id and a single sort — adding
    window functions over the same (partition, order) spec is free. The
    (ts, event_id) tie-break makes lag/lead deterministic under timestamp
    collisions.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-2, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.avg("value").over(frame), 6).alias("moving_avg"),
    )


# --------------------------------------------------------------------------
# SCD Type-2 history build: gaps-and-islands collapse of a daily state
# --------------------------------------------------------------------------

USER_TIER_HISTORY_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, day,
         CASE WHEN cents < 7500 THEN 'low'
              WHEN cents < 18000 THEN 'mid'
              ELSE 'high' END AS tier
  FROM daily
),
m AS (
  SELECT user_id, day, tier,
         CASE WHEN LAG(tier) OVER w IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS chg,
         MAX(day) OVER (PARTITION BY user_id) AS last_day
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
i AS (
  SELECT user_id, day, tier, last_day,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT user_id, tier,
       MIN(day) AS valid_from,
       MAX(day) AS valid_to,
       COUNT(*) AS n_days,
       MAX(day) = MAX(last_day) AS is_current
FROM i GROUP BY user_id, island, tier
"""


@query("user_tier_history", oracle=USER_TIER_HISTORY_ORACLE)
def user_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension-history build: per-user daily activity tier
    (exact-cents daily value sum CASE-binned low/mid/high) collapsed
    into (valid_from, valid_to, is_current) validity runs — the
    slowly-changing-dimension shape the reference's mart layer would
    need the moment a tracked attribute starts changing (its
    `updated_date` CDC detects the change; SCD2 is how the mart KEEPS
    the old value instead of overwriting it). Run boundaries via
    gaps-and-islands: a null-safe LAG inequality marks tier changes, a
    running SUM of the change flags numbers the islands — no self-join,
    no recursive scan.

    Scale: two shuffles total — the (user_id, day) daily aggregate
    (map-side combined), then ONE user_id exchange+sort shared by all
    three window functions (LAG, running SUM, per-user MAX — same
    partition spec, frames differ); the island collapse groups on a
    key CONTAINING user_id, so hashpartitioning(user_id) already
    satisfies its clustering and Catalyst plans no third exchange
    (asserted in test_plans). State per user is one row in flight —
    nothing buffers a user's full history.
    """
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    tiered = daily.select(
        "user_id",
        "day",
        F.when(F.col("cents") < 7500, F.lit("low"))
        .when(F.col("cents") < 18000, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marked = tiered.select(
        "user_id",
        "day",
        "tier",
        F.sum(
            (~F.lag("tier").over(w).eqNullSafe(F.col("tier"))).cast("int")
        )
        .over(run)
        .alias("island"),
        F.max("day").over(full).alias("last_day"),
    )
    # validity bounds cast to timestamp: the comparator canonicalizes
    # DuckDB DATE as midnight datetimes, so a bare Spark date would
    # stringify differently despite equal values
    return marked.groupBy("user_id", "island", "tier").agg(
        F.min("day").cast("timestamp").alias("valid_from"),
        F.max("day").cast("timestamp").alias("valid_to"),
        F.count(F.lit(1)).alias("n_days"),
        (F.max("day") == F.max("last_day")).alias("is_current"),
    ).drop("island")


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------

EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE) /
             SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p_next
FROM pairs
"""


@query("event_transition_matrix", oracle=EVENT_TRANSITIONS_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of event types, how often does a user's next event
    move from one to the other, and with what conditional probability —
    the model behind next-action prediction, funnel-leak triage, and
    bot detection (a near-deterministic row is a scripted client).

    Scale: the LEAD window shuffles events ONCE on user_id; the pair
    groupBy map-side-combines each task to ≤ types² rows before its
    exchange, and the row-probability normalization is a window over
    the MODEL-SIZED (types × types) matrix — never over events. The
    (ts, event_id) tie-break makes every transition deterministic
    under timestamp collisions. One double division, 6-dp rounded on
    both engines; counts stay exact integers.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_w = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_w),
            6,
        ).alias("p_next"),
    )


# --------------------------------------------------------------------------
# RANGE-framed rolling aggregate: trailing 90-day spend per customer
# --------------------------------------------------------------------------

ROLLING_SPEND_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(SUM(cents) OVER w AS BIGINT) AS spend_90d_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_90d
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
"""


@query("customer_rolling_spend", oracle=ROLLING_SPEND_ORACLE)
def customer_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 90-day spend at every order — the RANGE-framed moving
    aggregate (value-based frame over epoch-days, not a row count):
    the velocity feature behind fraud scoring and credit exposure. A
    ROWS frame would be wrong here — customers order at uneven
    cadence, so "last k orders" and "last 90 days" diverge; RANGE over
    the epoch-day key gives the calendar semantics, and peers (same
    customer, same day) enter the frame together in both engines.

    Scale: one custkey shuffle; the RANGE frame evaluates as a sliding
    two-pointer over each sorted partition (bounded state — Spark
    never buffers more than the 90-day span per customer). Spend sums
    exact cents; no doubles anywhere.
    """
    o = Catalog(spark, sf_dir).orders
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-89, Window.currentRow)
    )
    return base.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum("cents").over(w).alias("spend_90d_cents"),
        F.count(F.lit(1)).over(w).alias("n_orders_90d"),
    )


# --------------------------------------------------------------------------
# exponential time-decay engagement score (order-free integer accumulation)
# --------------------------------------------------------------------------

DECAY_SCORE_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(CAST(CAST(SUM(CAST(ROUND(
           CAST(ROUND(value * 100, 0) AS BIGINT)
           * POW(0.5, CAST(date_diff('day', CAST(ts AS DATE),
                                     DATE '2024-02-01') AS DOUBLE) / 7.0)
           * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / 1000000.0, 6) AS decayed_cents
FROM events
GROUP BY user_id
"""


@query("user_decay_score", oracle=DECAY_SCORE_ORACLE)
def user_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user: each
    event's exact-cents value halves every 7 days of age at the
    2024-02-01 reference point, summed per user — the recency-weighted
    activity feature behind churn models and engagement ranking.

    Determinism: a naive SUM of double contributions is
    accumulation-order-dependent (parallelism would change the
    result). Instead each ROW's decay expression is immediately
    integer-scaled (ROUND(cents · 0.5^(age/7) · 1e6) as BIGINT) and
    the aggregation runs entirely on integers — exact and order-free
    at any parallelism; libm ULP differences between engines can only
    matter at a per-row rounding boundary, never compound across the
    sum (the bigram-LM pattern).

    Scale: one user_id-keyed aggregate, map-side combined; the shuffle
    carries (user_id, bigint, count) — never event payloads.
    """
    ev = Catalog(spark, sf_dir).events
    age = F.datediff(
        F.lit("2024-02-01").cast("date"), F.to_date("ts")
    ).cast("double")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    contrib = F.round(
        cents.cast("double") * F.pow(F.lit(0.5), age / F.lit(7.0)) * F.lit(1e6),
        0,
    ).cast("bigint")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(contrib).cast("double") / F.lit(1e6), 6).alias(
            "decayed_cents"
        ),
    )


# --------------------------------------------------------------------------
# point-in-time join: events against the SCD2 tier active at event time
# --------------------------------------------------------------------------

EVENTS_TIER_PIT_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, day,
         CASE WHEN cents < 7500 THEN 'low'
              WHEN cents < 18000 THEN 'mid'
              ELSE 'high' END AS tier
  FROM daily
),
m AS (
  SELECT user_id, day, tier,
         CASE WHEN LAG(tier) OVER w IS DISTINCT FROM tier
              THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
i AS (
  SELECT user_id, day, tier,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
),
hist AS (
  SELECT user_id, tier, MIN(day) AS valid_from, MAX(day) AS valid_to
  FROM i GROUP BY user_id, island, tier
),
ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events)
SELECT h.tier, COUNT(*) AS n_events,
       CAST(SUM(CAST(ev.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM ev JOIN hist h
  ON h.user_id = ev.user_id AND ev.day BETWEEN h.valid_from AND h.valid_to
GROUP BY 1
"""


@query("events_tier_pit", oracle=EVENTS_TIER_PIT_ORACLE)
def events_tier_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store correctness primitive:
    every event is attributed to the SCD2 tier VALID AT ITS TIMESTAMP
    (never the current one — that would leak future state into
    training features), rolled up to per-tier event counts and value.

    The oracle deliberately uses the other formulation (interval
    BETWEEN join against the materialized history) so the two
    implementations cross-check: the engine path runs the as-of
    union-window operator (`operators/temporal.py`) with the history's
    island starts as the right side — ONE user_id shuffle, no interval
    explosion, history rows tagged seq=-1 so a same-day island start
    is visible to that day's events (inclusive valid_from).

    Scale: the naive interval join explodes each event by the user's
    full tier history; the as-of form is a single merge pass per user
    partition — the asymmetry that motivates every feature store's PIT
    implementation.
    """
    from ..functions.expressions import dec
    from ..operators.temporal import asof_join

    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    tiered = daily.select(
        "user_id",
        "day",
        F.when(F.col("cents") < 7500, F.lit("low"))
        .when(F.col("cents") < 18000, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("tier"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = tiered.select(
        "user_id",
        "day",
        "tier",
        F.sum(
            (~F.lag("tier").over(w).eqNullSafe(F.col("tier"))).cast("int")
        )
        .over(run)
        .alias("island"),
    )
    hist = (
        islands.groupBy("user_id", "island", "tier")
        .agg(F.min("day").cast("timestamp").alias("valid_from"))
        .select(
            "user_id", "tier", "valid_from", F.lit(-1).alias("seq")
        )
    )
    # left seq = event_id (unique, ≥ 0); right seq = -1 — so at equal
    # timestamps (event on the island's first day) the island start
    # sorts FIRST and the strictly-before window still sees it:
    # inclusive valid_from without touching the operator's semantics.
    ev_rows = ev.select(
        "user_id",
        F.to_date("ts").cast("timestamp").alias("day_ts"),
        F.col("event_id").alias("seq"),
        "value",
    )
    pit = asof_join(
        ev_rows,
        hist,
        key="user_id",
        left_ts="day_ts",
        right_ts="valid_from",
        payload_cols=["tier"],
        seq_col="seq",
        prefix="pit_",
    )
    return pit.groupBy(F.col("pit_tier").alias("tier")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("value_sum"),
    )


# --------------------------------------------------------------------------
# sequence-order EWMA: truncated-FIR smoothing with integer-exact weights
# --------------------------------------------------------------------------

EWMA_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 1000000, 0) AS BIGINT) AS y
  FROM events
),
l AS (
  SELECT user_id, ts, event_id, y,
         lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
         lag(y, 3) OVER w AS y3, lag(y, 4) OVER w AS y4,
         lag(y, 5) OVER w AS y5, lag(y, 6) OVER w AS y6,
         lag(y, 7) OVER w AS y7
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
e AS (
  SELECT user_id, ts, event_id,
         128 * y + COALESCE(64 * y1, 0) + COALESCE(32 * y2, 0)
           + COALESCE(16 * y3, 0) + COALESCE(8 * y4, 0)
           + COALESCE(4 * y5, 0) + COALESCE(2 * y6, 0)
           + COALESCE(y7, 0) AS num,
         128 + CASE WHEN y1 IS NULL THEN 0 ELSE 64 END
             + CASE WHEN y2 IS NULL THEN 0 ELSE 32 END
             + CASE WHEN y3 IS NULL THEN 0 ELSE 16 END
             + CASE WHEN y4 IS NULL THEN 0 ELSE 8 END
             + CASE WHEN y5 IS NULL THEN 0 ELSE 4 END
             + CASE WHEN y6 IS NULL THEN 0 ELSE 2 END
             + CASE WHEN y7 IS NULL THEN 0 ELSE 1 END AS den,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM l
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0, 6)
         AS ewma_last
FROM e WHERE rn = 1
"""


@query("user_value_ewma", oracle=EWMA_ORACLE)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value in
    SEQUENCE order (α = 1/2), reported at each user's latest event —
    the classic online smoothing feature, made distributed-exact.

    The textbook EWMA recurrence (s_t = α·y_t + (1−α)·s_{t−1}) is a
    sequential scan — unusable as-is. An 8-term truncated FIR is the
    distributed form: weights 2⁷…2⁰ over the last 8 values leave a
    relative truncation error < 2⁻⁸ while turning the recurrence into
    a fixed per-row expression. With integer-scaled values and
    power-of-two integer weights, num/den are exact BIGINTs; the
    division is ONE fixed-order double expression, ROUND 6 —
    bit-identical across engines and parallelism.

    Scale: one per-user sort-window computes all 8 lags in a single
    frame pass (high-cardinality user_id partitions — millions at
    100 TB, no skew); the "latest row" pick is an order-free
    max_by(struct) aggregate, not a second sort-window.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    y = F.round(F.col("value") * 1_000_000, 0).cast("bigint")
    lagged = ev.select("user_id", "ts", "event_id", y.alias("y")).select(
        "user_id",
        "ts",
        "event_id",
        "y",
        *[F.lag("y", k).over(w).alias(f"y{k}") for k in range(1, 8)],
    )
    num = F.lit(128) * F.col("y")
    den = F.lit(128)
    for k in range(1, 8):
        wt = 1 << (7 - k)
        num = num + F.coalesce(F.lit(wt) * F.col(f"y{k}"), F.lit(0))
        den = den + F.when(F.col(f"y{k}").isNull(), 0).otherwise(wt)
    scored = lagged.select(
        "user_id", "ts", "event_id", num.alias("num"), den.alias("den")
    )
    agg = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by(
            F.struct("num", "den"), F.struct("ts", "event_id")
        ).alias("last"),
    )
    return agg.select(
        "user_id",
        "n_events",
        F.round(
            F.col("last.num").cast("double")
            / F.col("last.den").cast("double")
            / F.lit(1_000_000.0),
            6,
        ).alias("ewma_last"),
    )
