"""Temporal-join and event-sequence query surface.

As-of join and banded range join are the two interval operators Spark has
no built-in for (``operators/temporal.py``). Every query here is
oracle-checked — the as-of/range oracles are written as window/inequality
SQL DuckDB executes exactly, with (ts, event_id) total-order tie-breaks so
both engines pick the same row at timestamp collisions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.temporal import asof_join, range_join
from ..sources.catalog import Catalog
from .registry import query

# --------------------------------------------------------------------------
# as-of join: last-touch attribution (purchase ← latest prior click/view)
# --------------------------------------------------------------------------

ASOF_ATTRIBUTION_ORACLE = """
WITH src AS (
  SELECT user_id, ts, event_id, event_type FROM events
  WHERE event_type IN ('click', 'view')
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.event_id, p.user_id, p.ts,
         s.ts AS s_ts, s.event_type AS s_type,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id ORDER BY s.ts DESC, s.event_id DESC
         ) AS rn
  FROM p LEFT JOIN src s
    ON s.user_id = p.user_id
   AND (s.ts < p.ts OR (s.ts = p.ts AND s.event_id < p.event_id))
)
SELECT event_id, user_id, ts,
       s_ts AS last_touch_ts, s_type AS last_touch_type
FROM j WHERE rn = 1
"""


@query("asof_attribution", oracle=ASOF_ATTRIBUTION_ORACLE, headline=True)
def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase joined as-of to the latest
    preceding click/view of the same user (marketing-attribution shape).

    Scale: the union-window as-of join shuffles ONCE on user_id; the
    oracle's equivalent inequality-join formulation explodes each purchase
    by the user's full click history — that asymmetry is exactly why the
    operator exists. Purchases with no prior touch keep null fields
    (left-outer as-of).
    """
    ev = Catalog(spark, sf_dir).events
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = asof_join(
        purchases,
        touches,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload_cols=["ts", "event_type"],
        seq_col="event_id",
        prefix="asof_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_ts").alias("last_touch_ts"),
        F.col("asof_event_type").alias("last_touch_type"),
    )


# --------------------------------------------------------------------------
# PIVOT: daily event-type count matrix
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# calendar-spine densification: explicit gap rows for time-series work
# --------------------------------------------------------------------------

ACTIVITY_SPINE_ORACLE = """
WITH d AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS di
  FROM events
),
u AS (
  SELECT user_id, MIN(di) AS mn, MAX(di) AS mx, LIST(DISTINCT di) AS ds
  FROM d GROUP BY user_id
)
SELECT user_id, g.di AS day_index, list_contains(ds, g.di) AS active
FROM u, UNNEST(generate_series(mn, mx)) AS g(di)
"""


@query("user_activity_spine", oracle=ACTIVITY_SPINE_ORACLE)
def user_activity_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification: one row per user per calendar day
    between their first and last activity, active days flagged — the
    "date spine" every time-series mart needs before gap-sensitive
    logic (retention curves, streak counting, interpolation), because
    aggregating raw events silently SKIPS silent days.

    Scale: ONE user_id shuffle builds each user's active-day set
    (collect_set dedups map-side; its size is bounded by the calendar
    horizon, not the event count), and
    the spine is a per-user sequence explode whose output is
    users × horizon rows; no join back to events, no events×days
    cross product. At an unbounded horizon, window the spine per
    (user, month) so no single sequence materializes years.
    """
    ev = Catalog(spark, sf_dir).events
    di = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    u = (
        ev.select("user_id", di.alias("di"))
        .groupBy("user_id")
        .agg(
            F.min("di").alias("mn"),
            F.max("di").alias("mx"),
            F.collect_set("di").alias("ds"),
        )
    )
    return u.select(
        "user_id",
        F.explode(F.sequence("mn", "mx")).alias("day_index"),
        F.col("ds"),
    ).select(
        "user_id",
        "day_index",
        F.array_contains("ds", F.col("day_index")).alias("active"),
    )


# --------------------------------------------------------------------------
# activity streaks: gaps-and-islands over distinct active days
# --------------------------------------------------------------------------

USER_STREAKS_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS di
  FROM events
),
i AS (
  SELECT user_id, di,
         di - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY di) AS isl
  FROM d
),
s AS (
  SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY user_id, isl
)
SELECT user_id,
       COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM s GROUP BY user_id
"""


@query("user_streaks", oracle=USER_STREAKS_ORACLE)
def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (longest streak, streak
    count, total active days) — the engagement metric behind habit
    scoring, computed with the classic day-minus-rank islands trick: a
    run of consecutive distinct days shares ``day − row_number``, so
    streaks fall out of ONE rank window and two subset-keyed
    aggregates, with no self-join and no spine materialization (the
    sibling `user_activity_spine` exists for when the gap ROWS
    themselves are wanted).

    Scale: the (user, day) distinct collapses map-side; the rank window
    and BOTH downstream groupBys share the user_id hash partitioning
    (grouping keys contain user_id), so the whole query is two
    exchanges end to end — asserted in test_plans.
    """
    ev = Catalog(spark, sf_dir).events
    di = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    d = ev.select("user_id", di.alias("di")).distinct()
    w = Window.partitionBy("user_id").orderBy("di")
    i = d.select(
        "user_id", "di", (F.col("di") - F.row_number().over(w)).alias("isl")
    )
    s = i.groupBy("user_id", "isl").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("active_days"),
    )


# --------------------------------------------------------------------------
# peak concurrency: sweep-line max overlap over sessionized intervals
# --------------------------------------------------------------------------

PEAK_CONCURRENCY_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sess AS (
  SELECT epoch_us(MIN(ts)) AS su, epoch_us(MAX(ts)) AS eu
  FROM numbered GROUP BY user_id, session_id
),
spans AS (
  SELECT su, eu,
         UNNEST(generate_series(su // 86400000000, eu // 86400000000)) AS day
  FROM sess
),
b AS (
  SELECT day, GREATEST(su, day * 86400000000) AS ts_us, 1 AS delta FROM spans
  UNION ALL
  SELECT day, LEAST(eu, day * 86400000000 + 86399999999) + 1, -1 FROM spans
),
r AS (
  SELECT day, delta,
         SUM(delta) OVER (PARTITION BY day ORDER BY ts_us, delta
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM b
)
SELECT day,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS active_intervals,
       CAST(MAX(run) AS BIGINT) AS peak_concurrent
FROM r GROUP BY day
"""


@query("session_peak_concurrency", oracle=PEAK_CONCURRENCY_ORACLE)
def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per day — the capacity-planning
    query ("how many sessions were open at the busiest instant?") that
    needs interval-stabbing MAX, not an hourly count. Sessions are the
    same 30-minute-gap intervals as `sessionize`.

    Scale: the oracle's formulation is ONE global running sum per day —
    a partition-less-window shape a 1000-executor cluster serializes.
    :func:`peak_concurrency` decomposes it into a segmented prefix sum
    (per-(day, hour-bucket) windows + a ≤25-row carry cumulation per
    day), so every ordered partition is one bucket's boundaries. The
    session roll-up itself shares the user_id shuffle with the
    sessionize window.
    """
    from ..operators.temporal import peak_concurrency

    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            lag_ts.isNull()
            | ((F.unix_micros("ts") - F.unix_micros(lag_ts)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    return peak_concurrency(sess, "session_start", "session_end")


# --------------------------------------------------------------------------
# multi-touch attribution: time-decay credit over a look-back band
# --------------------------------------------------------------------------

HALF_LIFE_US = 4 * 3600 * 1_000_000
LOOKBACK_US = 24 * 3600 * 1_000_000

MULTITOUCH_ORACLE = f"""
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_us FROM events
  WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events
  WHERE event_type IN ('click', 'view')
),
pairs AS (
  SELECT p.event_id, t.event_type,
         CAST(ROUND(POWER(0.5,
           CAST(p.p_us - t.t_us AS DOUBLE) / {float(HALF_LIFE_US)})
           * 1000000000.0, 0) AS BIGINT) AS w9
  FROM p JOIN t
    ON t.user_id = p.user_id
   AND t.t_us >= p.p_us - {LOOKBACK_US} AND t.t_us < p.p_us
),
shared AS (
  SELECT event_id, event_type,
         CAST(ROUND(CAST(w9 AS DOUBLE)
           / CAST(SUM(w9) OVER (PARTITION BY event_id) AS DOUBLE)
           * 1000000.0, 0) AS BIGINT) AS s6
  FROM pairs
),
touch AS (
  SELECT event_type AS touch_type, COUNT(*) AS n_touches,
         ROUND(CAST(SUM(s6) AS DOUBLE) / 1000000.0, 6) AS credit
  FROM shared GROUP BY 1
),
direct AS (
  SELECT 'direct' AS touch_type, COUNT(*) AS n_touches,
         CAST(COUNT(*) AS DOUBLE) AS credit
  FROM p WHERE event_id NOT IN (SELECT event_id FROM pairs)
)
SELECT * FROM touch UNION ALL SELECT * FROM direct
"""


@query("multitouch_attribution", oracle=MULTITOUCH_ORACLE)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: every purchase splits one
    unit of credit across the user's clicks/views in the 24 h before
    it, weighted by a 4 h-half-life time decay; purchases with no
    prior touch keep their credit as 'direct'. The fractional-credit
    complement of `asof_attribution`'s last-touch.

    Exactness: each pair's decay weight is ONE double expression
    integer-scaled per row; per-purchase shares renormalize on the
    integer weights and are re-scaled to integers BEFORE the cross-
    purchase credit sum — no unordered double accumulation anywhere
    (module pattern). The oracle is the independent inequality-join
    formulation.

    Scale: the engine path runs the BINNED range join (equi-join on
    (user_id, time-bin), ≤2 candidate bins per purchase) — never the
    oracle's per-user nested loop; the share window partitions by
    purchase (touches-per-24h-bounded); 'direct' is a left-anti join
    on the purchase list.
    """
    ev = Catalog(spark, sf_dir).events
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_type", "ts"
    )
    pairs = range_join(
        purchases,
        touches,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        lower_us=-LOOKBACK_US,
        upper_us=0,
    ).select(
        "event_id",
        F.col("r_event_type").alias("touch_type"),
        F.round(
            F.pow(
                F.lit(0.5),
                (F.unix_micros("ts") - F.unix_micros("r_ts")).cast("double")
                / F.lit(float(HALF_LIFE_US)),
            )
            * F.lit(1_000_000_000.0),
            0,
        )
        .cast("bigint")
        .alias("w9"),
    )
    w_p = Window.partitionBy("event_id")
    shared = pairs.select(
        "event_id",
        "touch_type",
        F.round(
            F.col("w9").cast("double")
            / F.sum("w9").over(w_p).cast("double")
            * F.lit(1_000_000.0),
            0,
        )
        .cast("bigint")
        .alias("s6"),
    )
    touch = shared.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(
            F.sum("s6").cast("double") / F.lit(1_000_000.0), 6
        ).alias("credit"),
    )
    direct = (
        purchases.join(
            pairs.select("event_id").distinct(), "event_id", "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n_touches"))
        .select(
            F.lit("direct").alias("touch_type"),
            "n_touches",
            F.col("n_touches").cast("double").alias("credit"),
        )
    )
    return touch.unionByName(direct)


# --------------------------------------------------------------------------
# trailing-window distinct: 7-day rolling active users per calendar day
# --------------------------------------------------------------------------

ROLLING_ACTIVE_ORACLE = """
WITH du AS (
  SELECT DISTINCT
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS di,
         user_id
  FROM events
),
b AS (SELECT MIN(di) AS mn, MAX(di) AS mx FROM du),
spine AS (
  SELECT g.di AS win_di FROM b, UNNEST(generate_series(mn, mx)) AS g(di)
),
c AS (
  SELECT s.win_di, COUNT(DISTINCT du.user_id) AS au
  FROM spine s JOIN du ON du.di BETWEEN s.win_di - 6 AND s.win_di
  GROUP BY s.win_di
)
SELECT s.win_di, CAST(COALESCE(c.au, 0) AS BIGINT) AS active_users_7d
FROM spine s LEFT JOIN c ON c.win_di = s.win_di
"""


@query("rolling_active_users", oracle=ROLLING_ACTIVE_ORACLE)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT active users for every calendar day in
    the data range — the rolling-distinct metric a sliding window
    cannot express (COUNT(DISTINCT) has no merge-out over frames), so
    the naive form is a per-day range self-join over 7× the events.

    Algorithm: contribution explode — dedup to (day, user) first (the
    only data-sized shuffle), then each active (day, user) emits the 7
    window-end days it contributes to, and one count-distinct groupBy
    per window day finishes. Work is exactly 7× the DISTINCT
    (day, user) pairs — linear, horizon-independent — and both
    shuffles key on high-cardinality (day, user) pairs, no skew. The
    day spine (one row per calendar day) left-joins at the end so
    silent days report 0, not absence. Day arithmetic runs on epoch-day
    BIGINTs (the ``user_activity_spine`` convention — no DATE-type
    canon differences between engines).

    Scale: at 100 TB the (day, user) dedup dominates — a shuffle the
    metric needs under ANY algorithm; the ×7 explode adds map-side
    rows only. Window length w scales cost ×w: for month-long windows
    switch to per-day HLL sketch merges (``sketch_distinct_clients``)
    — this query is the exact form.
    """
    ev = Catalog(spark, sf_dir).events
    di = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    du = ev.select(di.alias("di"), "user_id").distinct()
    contrib = du.select(
        F.explode(
            F.sequence(F.col("di"), F.col("di") + F.lit(6))
        ).alias("win_di"),
        "user_id",
    )
    counts = contrib.groupBy("win_di").agg(
        F.countDistinct("user_id").alias("au")
    )
    spine = du.agg(
        F.min("di").alias("mn"), F.max("di").alias("mx")
    ).select(F.explode(F.sequence("mn", "mx")).alias("win_di"))
    return spine.join(counts, "win_di", "left").select(
        "win_di", F.coalesce("au", F.lit(0)).alias("active_users_7d")
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival / retention curve — the censoring-aware form of
# cohort retention: a user still active near the observation end is
# CENSORED at their observed lifetime, not counted as churned (naive
# retention curves understate late-period survival by exactly these
# users). Emits the standard KM table: per lifetime-day risk set size,
# churn events, censorings, and the discrete hazard d/n — survival
# S(t) = prod(1 - hazard) derives row-by-row downstream; the product
# itself is NOT emitted because a cross-engine cumulative product would
# route through exp/ln ULPs (the exact-moment discipline: exact
# integers + ONE final division per row).
# --------------------------------------------------------------------------

KM_CENSOR_DAYS = 7

SURVIVAL_KM_ORACLE = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id IS NOT NULL
),
obs AS (SELECT MAX(d) AS oe FROM ev),
pu AS (SELECT user_id, MIN(d) AS fd, MAX(d) AS ld FROM ev GROUP BY 1),
lab AS (
  SELECT date_diff('day', fd, ld) AS t,
         CASE WHEN date_diff('day', ld, (SELECT oe FROM obs))
                   < {KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS cen
  FROM pu
),
daily AS (
  SELECT t, SUM(1 - cen) AS d, SUM(cen) AS c FROM lab GROUP BY 1
),
risk AS (
  SELECT t, d, c,
         SUM(d + c) OVER (ORDER BY t DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM daily
)
SELECT CAST(t AS BIGINT) AS day_t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_churned, CAST(c AS BIGINT) AS n_censored,
       ROUND(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6) AS hazard
FROM risk
"""


@query("user_survival_km", oracle=SURVIVAL_KM_ORACLE)
def user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator over user lifetimes (first event day →
    last event day; users whose last event falls within
    ``KM_CENSOR_DAYS`` of the corpus' final day are right-censored —
    still at risk, not churned).

    The oracle computes the risk set with a suffix-sum window; the
    Spark plan instead uses the CONTRIBUTION-EXPLODE identity
    n_risk(t) = sum over s >= t of (d+c)(s): each lifetime-day row
    explodes into its 0..t prefix days and re-aggregates — day-DOMAIN
    quadratic (bounded by the retention horizon: 3650 days ≈ 6.6 M
    contribution rows at a 10-year horizon, regardless of corpus
    size), which keeps the plan free of the banned global window. The
    observation-end day is a one-row control-plane scalar (the ledger
    cutoff precedent).

    Scale: one user-keyed shuffle (min/max per user, map-side
    combined), then day-domain-sized work only.
    """
    ev = (
        Catalog(spark, sf_dir)
        .events.where(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
    )
    obs_end = ev.agg(F.max("d").alias("oe")).first()["oe"]
    pu = ev.groupBy("user_id").agg(F.min("d").alias("fd"), F.max("d").alias("ld"))
    lab = pu.select(
        F.datediff("ld", "fd").alias("t"),
        (
            F.datediff(F.lit(str(obs_end)).cast("date"), F.col("ld"))
            < F.lit(KM_CENSOR_DAYS)
        )
        .cast("long")
        .alias("cen"),
    )
    daily = lab.groupBy("t").agg(
        (F.count(F.lit(1)) - F.sum("cen")).alias("d"), F.sum("cen").alias("c")
    )
    risk = (
        daily.select(
            F.explode(F.sequence(F.lit(0), F.col("t"))).alias("t2"),
            (F.col("d") + F.col("c")).alias("w"),
        )
        .groupBy("t2")
        .agg(F.sum("w").alias("n_risk"))
    )
    return daily.join(risk, daily["t"] == risk["t2"]).select(
        F.col("t").cast("bigint").alias("day_t"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round(
            F.col("d").cast("double") / F.col("n_risk").cast("double"), 6
        ).alias("hazard"),
    )
