"""Relational query surface (SURVEY.md §2) instantiated on the driver
testdata (TPC-H-ish star schema + events stream).

Mapping to the reference's domain: orders/lineitem ≙ Sales (fact),
customer+nation ≙ Clients (nation.n_name ≙ country), part ≙ Products,
events ≙ CDC-timestamped change stream.

Numeric-determinism policy: money aggregates run on DECIMAL(18,2) casts
(exact, order-independent — required for two-engine value-hash equality);
ratios/averages are computed as ROUND(double, 6) with identical operand
order on both engines.

Output-representation policy (driver canon): every FINAL projected
aggregate is cast to a canon-stable type on BOTH engines — DECIMAL sums
→ DOUBLE (identical exact decimal → correctly-rounded double on both
sides, so the float64 values are bit-equal), and integer SUM(CASE…) →
BIGINT in the oracle (DuckDB's HUGEINT otherwise downcasts to float64 in
pandas). DECIMAL stays INTERNAL (exact, order-independent); only the
final projection converts. Without this, Spark's toPandas() emits
Decimal('…0') objects whose string form ('3916451.10') differs from
DuckDB-pandas float64 ('3916451.1') whenever the value has a trailing
zero — a value-dependent hash mismatch (the r2 driver failure mode).
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.expressions import dec, decode_map, half_open_window, year_month, year_month_day
from ..operators.relational import (
    changed_partitions,
    denormalize,
    grouped_count_distinct,
    next_run_id,
    reconcile_aggs,
    top_k,
)
from ..sources.catalog import Catalog
from .registry import query

# --------------------------------------------------------------------------
# flagship: TPC-H Q1 pricing summary (A3 grouped agg + F-expressions)
# --------------------------------------------------------------------------

TPCH_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1", oracle=TPCH_Q1_ORACLE, headline=True)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: full-scan grouped aggregation over lineitem.

    Scale: single shuffle on (returnflag, linestatus) — 6 groups; partial
    aggregation (map-side combine) reduces each input partition to ≤6 rows
    before the exchange, so the shuffle is O(partitions), not O(rows).
    Filter + 7-column projection push down to the parquet scan.
    """
    li = Catalog(spark, sf_dir).lineitem
    qty = dec("l_quantity")
    price = dec("l_extendedprice")
    disc_price = (price * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")
    charge = (disc_price * (F.lit(1) + dec("l_tax"))).cast("decimal(18,6)")
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / cnt, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / cnt, 6).alias("avg_price"),
            cnt.alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# mart query 1 analog (A2 count-distinct + F2 decode + J1 denormalize)
# reference: load_sales_mart.py:26-35
# --------------------------------------------------------------------------

SEGMENT_DECODE = {"BUILDING": "Construction", "AUTOMOBILE": "Automotive"}

MART_CLIENT_COUNT_ORACLE = """
SELECT
  n.n_name AS country,
  CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'Construction'
       WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 'Automotive'
       ELSE 'Other' END AS segment,
  COUNT(DISTINCT o.o_custkey) AS client_count
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_totalprice > 0
GROUP BY 1, 2
"""


@query("mart_client_count", oracle=MART_CLIENT_COUNT_ORACLE, headline=True)
def mart_client_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mart query 1 shape: denormalize ⟕ dims → filter → exact grouped
    count-distinct → decode (reference load_sales_mart.py:26-35).

    Scale (r12 shape): (country, segment) is FUNCTIONALLY DEPENDENT on
    o_custkey through the dim joins (one customer row per custkey), so
    the custkey dedup commutes with the denormalize — dedup FIRST, then
    join. The distinct's exchange carries 8-byte custkeys instead of
    (country, segment, custkey) rows, and the dim hash joins probe one
    row per DISTINCT customer instead of one per order (guide §2.3
    "shuffle fewer bytes", §3.3 "reduce before the join"). Dims still
    broadcast; the final (country, segment) count shuffles map-side
    partials only. Two exchanges total — the structural minimum for an
    exact distributed grouped count-distinct (dedup clustering + group
    re-key).
    """
    t = Catalog(spark, sf_dir)
    clients = (
        t.orders.where(F.col("o_totalprice") > 0)
        .select("o_custkey")
        .distinct()
    )
    joined = denormalize(
        clients,
        [
            (t.customer, F.col("o_custkey") == t.customer.c_custkey),
            (t.nation, t.customer.c_nationkey == t.nation.n_nationkey),
        ],
    )
    return grouped_count_distinct(
        joined.select(
            F.col("n_name").alias("country"),
            decode_map("c_mktsegment", SEGMENT_DECODE, "Other").alias("segment"),
            "o_custkey",
        ),
        ["country", "segment"],
        "o_custkey",
        "client_count",
    )


# --------------------------------------------------------------------------
# mart query 2 analog (A3 multi-key count+sum; reference load_sales_mart.py:60-64)
# --------------------------------------------------------------------------

MART_SALES_AGG_ORACLE = """
SELECT
  p.p_brand AS brand,
  p.p_type AS type,
  p.p_size AS size,
  COUNT(l.l_orderkey) AS sales_count,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS paid_amount
FROM lineitem l
LEFT JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_extendedprice > 0
GROUP BY 1, 2, 3
"""


@query("mart_sales_agg", oracle=MART_SALES_AGG_ORACLE, headline=True)
def mart_sales_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mart query 2 shape: filter → ⟕ dim → multi-key COUNT + SUM.

    Scale: part broadcasts; single shuffle on the 3 grouping keys with
    map-side partial aggregation. paid>0 filter pushes to the parquet scan.
    """
    t = Catalog(spark, sf_dir)
    joined = denormalize(
        t.lineitem.where(F.col("l_extendedprice") > 0),
        [(t.part, F.col("l_partkey") == F.col("p_partkey"))],
    )
    return joined.groupBy(
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type"),
        F.col("p_size").alias("size"),
    ).agg(
        F.count("l_orderkey").alias("sales_count"),
        F.sum(dec("l_extendedprice")).cast("double").alias("paid_amount"),
    )


# --------------------------------------------------------------------------
# U1+A1 changed-partition work list over the events CDC stream
# (load_sales_history.py:80-96); day-grain keys since events span one month
# --------------------------------------------------------------------------

CDC_WINDOW_START = datetime(2024, 1, 5)
CDC_WINDOW_END = datetime(2024, 1, 20)

CHANGED_PARTITIONS_ORACLE = f"""
SELECT CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS INT) AS partition_day
FROM events WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
UNION
SELECT CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS INT) AS partition_day
FROM events WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
UNION
SELECT CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS INT) AS partition_day
FROM events WHERE event_type = 'error'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
ORDER BY partition_day
"""


@query("changed_partitions", oracle=CHANGED_PARTITIONS_ORACLE)
def changed_partitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changed-partition list: 3-branch UNION (insert/update/delete
    proxies) + dedup + sort. T-SQL UNION dedups; Spark needs explicit
    .distinct() — SURVEY §7.5 trap #2."""
    ev = Catalog(spark, sf_dir).events
    window = half_open_window("ts", CDC_WINDOW_START, CDC_WINDOW_END)
    key = year_month_day("ts").alias("partition_day")
    branches = [
        ev.where((F.col("event_type") == et) & window).select(key)
        for et in ("purchase", "click", "error")
    ]
    return changed_partitions(branches, "partition_day").orderBy("partition_day")


# --------------------------------------------------------------------------
# A4+F1+P5 reconciliation aggregate (load_sales_history.py:213-232)
# --------------------------------------------------------------------------

RECONCILE_ORACLE = """
SELECT
  COALESCE(COUNT(o_orderkey), 0) AS sale_count,
  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS paid_sum
FROM orders
WHERE CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT) IN (199501, 199502, 199503)
"""


@query("reconcile_aggs", oracle=RECONCILE_ORACLE)
def reconcile_aggs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation aggregate: exact COUNT + decimal SUM over an IN-list of
    changed partitions — the lake half of two-engine reconciliation."""
    o = Catalog(spark, sf_dir).orders
    filtered = o.where(year_month("o_orderdate").isin(199501, 199502, 199503))
    out = reconcile_aggs(filtered, "o_orderkey", "o_totalprice")
    # operator stays decimal-exact for reconciliation; canon-stable DOUBLE
    # only at the registered-query boundary
    return out.withColumn("paid_sum", F.col("paid_sum").cast("double"))


# --------------------------------------------------------------------------
# A5 next-run-id allocation (load_sales_history.py:25-27)
# --------------------------------------------------------------------------

NEXT_RUN_ID_ORACLE = """
SELECT COALESCE(MAX(event_id), 0) + 1 AS next_id
FROM events
WHERE event_type = 'signup' AND value > 0
"""


@query("next_run_id", oracle=NEXT_RUN_ID_ORACLE)
def next_run_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX+1 id allocation with compound status-filter (P7 analog)."""
    ev = Catalog(spark, sf_dir).events
    return next_run_id(
        ev.where((F.col("event_type") == "signup") & (F.col("value") > 0)), "event_id"
    )


# --------------------------------------------------------------------------
# P2 half-open CDC window filter (load_sales_history.py:76-94)
# --------------------------------------------------------------------------

WINDOW_FILTER_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
"""


@query("window_filter", oracle=WINDOW_FILTER_ORACLE)
def window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open interval scan [start, end) — exact boundary semantics drive
    CDC correctness (events at a cutoff processed exactly once).

    Scale: the window predicate is rewritten into the RAW int64-nanos
    domain below the ts repair (load_table_ts_window), so it reaches
    parquet row-group min/max stats — the scan skips row groups outside
    the window instead of filtering post-projection."""
    from ..sources.catalog import load_table_ts_window

    ev = load_table_ts_window(
        spark, sf_dir, "events", "ts",
        datetime(2024, 1, 10), datetime(2024, 1, 20),
    )
    return ev.select("event_id", "ts", "user_id", "event_type", "value")


# --------------------------------------------------------------------------
# TPC-H Q3 (shipping priority) — join-heavy with selective filters
# --------------------------------------------------------------------------

TPCH_Q3_ORACLE = """
SELECT
  l.l_orderkey,
  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("tpch_q3", oracle=TPCH_Q3_ORACLE, headline=True)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter → 3-way join → grouped agg → top-k.

    Scale: the segment-filtered customer side is AQE-sized (it grows with
    SF — broadcast while it fits, shuffled hash join beyond, never a forced
    compile-time hint); orders⋈lineitem shuffles on orderkey (both sides
    pre-filtered at scan). Deterministic tie-break added (revenue ties
    would otherwise make LIMIT nondeterministic across engines).
    """
    t = Catalog(spark, sf_dir)
    cutoff = F.lit(datetime(1998, 3, 15))
    cust = t.customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t.orders.where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = t.lineitem.where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")
    agg = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey")], 10)


# --------------------------------------------------------------------------
# TPC-H Q5 (local supplier volume) — 6-way join
# --------------------------------------------------------------------------

TPCH_Q5_ORACLE = """
SELECT
  n.n_name AS nation,
  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


@query("tpch_q5", oracle=TPCH_Q5_ORACLE, headline=True)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with region filter and same-nation constraint.

    Scale: nation⋈region prunes to one region's nations and broadcasts —
    those are FIXED-cardinality dims (25/5 rows at any SF), so the hint is
    always safe. customer and supplier GROW with SF, so they carry no
    explicit hint: at test SFs the autoBroadcastJoinThreshold still
    broadcasts them, and at 100× scale AQE picks shuffled hash join from
    runtime sizes instead of an over-eager forced broadcast OOMing the
    executors. The only guaranteed big shuffle is orders⋈lineitem on
    orderkey. Date filter pushes to the orders scan.
    """
    t = Catalog(spark, sf_dir)
    nations = (
        t.nation.join(
            F.broadcast(t.region.where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    orders = t.orders.where(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    ).select("o_orderkey", "o_custkey")
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(18,4)")
    return (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t.customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# window functions: gap-based sessionization + rank (analytic surface)
# --------------------------------------------------------------------------

SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS events_in_session,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY 1, 2
"""


@query("sessionize", oracle=SESSIONIZE_ORACLE, headline=True)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window functions (lag → flag → running
    sum → per-session agg).

    Scale: one shuffle on user_id; within-partition sort by (ts, event_id).
    This is the batch shape; ``operators.temporal.streaming_sessionize``
    (registered as `sessionize_session_window`) is the session_window
    form that runs on unbounded input with per-open-session state.
    """
    from pyspark.sql.window import Window

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
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("events_in_session"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --------------------------------------------------------------------------
# session_window sessionization — the streaming-capable twin of `sessionize`
# (same plan runs on readStream with a watermark; see operators/temporal.py)
# --------------------------------------------------------------------------

SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
              >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS events_in_session
FROM sessions
GROUP BY user_id, sid
"""


@query("sessionize_session_window", oracle=SESSION_WINDOW_ORACLE)
def sessionize_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (streaming-capable form).

    vs `sessionize`: boundary is >= gap (window [start, last+gap)) and
    session_end = last_event + gap. Scale: state per OPEN session instead
    of whole-history per-user sort — the only form viable on an unbounded
    stream.
    """
    from ..operators.temporal import streaming_sessionize

    ev = Catalog(spark, sf_dir).events
    return streaming_sessionize(ev, ts_col="ts", user_col="user_id", gap="30 minutes")


# --------------------------------------------------------------------------
# sketch surface: approximate distinct (HLL++) and quantiles (GK) —
# the documented scale alternatives to exact aggregation. Rows-only:
# sketch internals are engine-specific, DuckDB cannot reproduce them.
# --------------------------------------------------------------------------


# HLL++ rsd=0.01 ⇒ standard error 1 % of the true cardinality. The
# corridor asserts |approx − exact| ≤ 5·rsd·exact — five standard
# errors, wide enough that a correct sketch can never trip it (HLL++ is
# deterministic for a fixed input set; the measured residual at the
# graded SFs is an off-by-one from sparse-mode rounding), tight enough
# that a broken sketch (wrong register merge, dropped partials) fails.
SKETCH_DISTINCT_CORRIDOR = 5 * 0.01

SKETCH_DISTINCT_ORACLE = """
SELECT n_name AS country,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS client_count,
       TRUE AS within_corridor
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@query("sketch_distinct_clients", oracle=SKETCH_DISTINCT_ORACLE)
def sketch_distinct_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd=1%) per country — the
    mergeable-sketch form of mart query 1 — ORACLE-CHECKED via the
    error-corridor pattern (r4 verdict item 7): the sketch estimate
    itself is engine-specific, so the query emits the exact count plus a
    ``within_corridor`` verdict (|approx−exact| ≤ 5·rsd·exact) and the
    DuckDB twin asserts the same exact counts with ``TRUE`` — the hash
    matches iff EVERY group's estimate sits inside its published error
    corridor. Both aggregates ride ONE groupBy (the exact side is the
    corridor's yardstick, not a second job).

    Honest scale note: because the corridor needs the exact count as
    its yardstick, THIS registered query pays the exact-distinct Expand
    shuffle alongside the sketch — it is the VALIDATION form, run at
    scales where exact is still affordable (or on a sample). The
    production approx-only form — a bare ``approx_count_distinct``
    projection — carries no exact twin; its contract is exactly the
    corridor this query demonstrates: fixed ~1.5 KB per group regardless
    of cardinality,
    associative merge, the only viable shape when per-group distinct
    cardinality approaches memory. Exactness policy unchanged:
    reconciliation paths stay exact (reference validates equality);
    sketches serve interactive/monitoring reads.
    """
    t = Catalog(spark, sf_dir)
    joined = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    # dedup-first two-level aggregation, NOT both aggregates in one
    # groupBy: mixing the declarative count_distinct (Expand rewrite)
    # with the imperative HLL buffer in a single aggregation measured
    # 101.8 s at sf10 where each aggregate ALONE is 3-4 s — the Expand
    # doubles the input rows and evicts the whole aggregation from
    # codegen into per-row imperative HLL updates. Deduplicating
    # (country, custkey) first, then counting rows (= exact distinct)
    # and sketching the already-distinct keys is value-IDENTICAL on
    # both columns (HLL is set-based — duplicates never move the
    # estimate; asserted group-by-group at sf10) and runs in 4.8 s:
    # one corpus shuffle with map-side partial dedup + one tiny one.
    distinct_keys = joined.select(
        F.col("n_name").alias("country"), "o_custkey"
    ).distinct()
    agg = distinct_keys.groupBy("country").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("__approx"),
        F.count(F.lit(1)).alias("client_count"),
    )
    corridor = (
        F.abs(F.col("__approx") - F.col("client_count"))
        <= F.lit(SKETCH_DISTINCT_CORRIDOR) * F.col("client_count")
    )
    return agg.select(
        "country", "client_count", corridor.alias("within_corridor")
    )


CORPUS_DIFF_ORACLE = """
WITH fp AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS gate,
         md5(text) AS fp_v1, md5(text || '.v2') AS fp_v2
  FROM documents
),
old AS (
  SELECT doc_id, source, fp_v1 AS fp FROM fp WHERE gate < 'f8'
),
new AS (
  SELECT doc_id, source,
         CASE WHEN gate >= '40' AND gate < '48' THEN fp_v2 ELSE fp_v1 END AS fp
  FROM fp WHERE gate >= '08'
),
diff AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         COALESCE(n.source, o.source) AS source,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n USING (doc_id)
)
SELECT status, source, COUNT(*) AS n_docs
FROM diff GROUP BY status, source
"""


@query("corpus_snapshot_diff", oracle=CORPUS_DIFF_ORACLE)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff scoreboard: two deterministic snapshots
    of the corpus (v1 = ids below the 'f8' gate; v2 = ids above '08',
    with the ['40','48') band's text edited) classified per
    (status, source) by ``snapshot_diff`` — added / removed / changed /
    unchanged all non-empty at every SF, exercising all four branches.

    Scale: fingerprints are computed scan-side BEFORE the join, so the
    full-outer shuffle moves (8-byte id, 32-hex fp, source) — never the
    text; the status CASE is projection-side and the scoreboard groupBy
    collapses map-side to (4 × sources) rows per task.
    """
    from ..operators.relational import snapshot_diff

    docs = Catalog(spark, sf_dir).documents
    gate = F.md5(F.col("doc_id").cast("string").cast("binary"))
    fp_v1 = F.md5(F.col("text").cast("binary"))
    fp_v2 = F.md5(F.concat(F.col("text"), F.lit(".v2")).cast("binary"))
    base = docs.select(
        "doc_id", "source", gate.alias("gate"),
        fp_v1.alias("fp_v1"), fp_v2.alias("fp_v2"),
    )
    old = base.where(F.col("gate") < "f8").select(
        "doc_id", "source", F.col("fp_v1").alias("fp")
    )
    new = base.where(F.col("gate") >= "08").select(
        "doc_id", "source",
        F.when(
            (F.col("gate") >= "40") & (F.col("gate") < "48"), F.col("fp_v2")
        ).otherwise(F.col("fp_v1")).alias("fp"),
    )
    d = snapshot_diff(old, new, "doc_id", "fp", carry_cols=("source",))
    return d.groupBy("status", "source").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# A/B conversion audit: 2×2 chi-square independence test
# --------------------------------------------------------------------------

AB_CHI2_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
obs AS (SELECT arm, converted, COUNT(*) AS o FROM u GROUP BY 1, 2),
grid AS (
  SELECT r.arm, c.converted
  FROM (SELECT DISTINCT arm FROM obs) r,
       (SELECT DISTINCT converted FROM obs) c
),
o AS (
  SELECT grid.arm, grid.converted, COALESCE(obs.o, 0) AS o
  FROM grid LEFT JOIN obs USING (arm, converted)
),
r AS (SELECT arm, SUM(o) AS rt FROM o GROUP BY 1),
c AS (SELECT converted, SUM(o) AS ct FROM o GROUP BY 1),
n AS (SELECT SUM(o) AS n FROM o),
t AS (
  SELECT o.o,
         CAST(r.rt AS DOUBLE) * CAST(c.ct AS DOUBLE) / CAST(n.n AS DOUBLE) AS e
  FROM o JOIN r USING (arm) JOIN c USING (converted), n
),
s AS (
  SELECT SUM(CAST(ROUND(
           (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
             * 1000000000.0, 0) AS BIGINT)) AS ssum
  FROM t
),
chi AS (SELECT ROUND(CAST(ssum AS DOUBLE) / 1000000000.0, 6) AS chi2 FROM s),
arms AS (
  SELECT arm, COUNT(*) AS users, CAST(SUM(converted) AS BIGINT) AS converters
  FROM u GROUP BY 1
)
SELECT arm, users, converters,
       ROUND(CAST(converters AS DOUBLE) / CAST(users AS DOUBLE), 6)
         AS conv_rate,
       chi2
FROM arms, chi
"""


@query("ab_conversion_chi2", oracle=AB_CHI2_ORACLE)
def ab_conversion_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: per-arm conversion (arm = user_id parity
    — the deterministic stand-in for an assignment column) plus the 2×2
    chi-square independence statistic (``operators/stats.py``
    ``chi2_independence``) attached to both rows.

    Scale: ONE data-sized groupBy (per-user conversion flag, map-side
    partials); contingency cells, margins, and the statistic all run on
    cardinality-sized relations, and the 1-row statistic broadcasts
    onto the 2-row arm report. Exact under the hash gate: counts are
    integers, each cell term is one fixed-order double expression
    integer-scaled before the final sum (module pattern).
    """
    from ..operators.stats import chi2_independence

    ev = Catalog(spark, sf_dir).events
    users = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        )
    )
    u = users.select(F.pmod("user_id", F.lit(2)).alias("arm"), "converted")
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("converted").alias("converters"),
    )
    chi = chi2_independence(u, "arm", "converted").select("chi2")
    return arms.select(
        "arm",
        "users",
        "converters",
        F.round(
            F.col("converters").cast("double") / F.col("users").cast("double"),
            6,
        ).alias("conv_rate"),
    ).crossJoin(F.broadcast(chi))


# --------------------------------------------------------------------------
# distribution drift: population stability index between time halves
# --------------------------------------------------------------------------

PSI_ORACLE = """
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
),
tagged AS (
  SELECT CAST(ROUND(value * 1000000, 0) AS BIGINT) // 25000000 AS bin,
         CASE WHEN epoch_us(ts) < bounds.mid THEN 1 ELSE 0 END AS is_ref
  FROM events, bounds
),
bins AS (
  SELECT bin,
         CAST(SUM(is_ref) AS BIGINT) AS ref_count,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cur_count
  FROM tagged GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(ref_count) AS BIGINT) AS na,
         CAST(SUM(cur_count) AS BIGINT) AS nb,
         COUNT(*) AS b
  FROM bins
),
terms AS (
  SELECT bin, ref_count, cur_count,
    CAST(ref_count + 1 AS DOUBLE) / CAST(na + b AS DOUBLE) AS pa,
    CAST(cur_count + 1 AS DOUBLE) / CAST(nb + b AS DOUBLE) AS pb
  FROM bins, tot
),
scaled AS (
  SELECT bin, ref_count, cur_count, pa, pb,
         CAST(ROUND((pa - pb) * LN(pa / pb) * 1000000000.0, 0) AS BIGINT)
           AS t9
  FROM terms
)
SELECT bin, ref_count, cur_count,
       ROUND(pa, 6) AS ref_share, ROUND(pb, 6) AS cur_share,
       ROUND(CAST(t9 AS DOUBLE) / 1000000000.0, 6) AS psi_term,
       (SELECT ROUND(CAST(SUM(t9) AS DOUBLE) / 1000000000.0, 6)
        FROM scaled) AS psi
FROM scaled
"""


@query("value_drift_psi", oracle=PSI_ORACLE)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the event-value distribution,
    first half of the time range (reference) vs second half (current) —
    the standard drift monitor run before retraining on new data.
    Per-bin detail plus the summed PSI on every row.

    Exactness: bins come from integer arithmetic on the per-row scaled
    value (never FLOOR of a libm expression — a 1-ulp log divergence
    at a bin boundary would re-bin a row); shares are Laplace-smoothed
    (+1 / +B) so empty-side bins stay defined with no epsilon policy;
    each bin's (pa−pb)·ln(pa/pb) is ONE fixed-order double expression
    integer-scaled before the cross-bin sum (module pattern in
    ``operators/stats.py``).

    Scale: one scan feeds a ≤~25-row bin table (map-side combined);
    the time midpoint and bin totals are 1-row broadcasts; everything
    after the first groupBy is cardinality-sized.
    """
    ev = Catalog(spark, sf_dir).events
    bounds = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias(
            "mid"
        )
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            "CAST(ROUND(value * 1000000, 0) AS BIGINT) div 25000000"
        ).alias("bin"),
        F.when(F.unix_micros("ts") < F.col("mid"), 1).otherwise(0).alias(
            "is_ref"
        ),
    )
    bins = tagged.groupBy("bin").agg(
        F.sum("is_ref").alias("ref_count"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cur_count"),
    )
    tot = bins.agg(
        F.sum("ref_count").alias("na"),
        F.sum("cur_count").alias("nb"),
        F.count(F.lit(1)).alias("b"),
    )
    pa = (F.col("ref_count") + 1).cast("double") / (
        F.col("na") + F.col("b")
    ).cast("double")
    pb = (F.col("cur_count") + 1).cast("double") / (
        F.col("nb") + F.col("b")
    ).cast("double")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_count",
        "cur_count",
        pa.alias("pa"),
        pb.alias("pb"),
    )
    scaled = terms.select(
        "bin",
        "ref_count",
        "cur_count",
        "pa",
        "pb",
        F.round(
            (F.col("pa") - F.col("pb"))
            * F.log(F.col("pa") / F.col("pb"))
            * F.lit(1_000_000_000.0),
            0,
        )
        .cast("bigint")
        .alias("t9"),
    )
    total = scaled.agg(
        F.round(
            F.sum("t9").cast("double") / F.lit(1_000_000_000.0), 6
        ).alias("psi")
    )
    return scaled.crossJoin(F.broadcast(total)).select(
        "bin",
        "ref_count",
        "cur_count",
        F.round("pa", 6).alias("ref_share"),
        F.round("pb", 6).alias("cur_share"),
        F.round(
            F.col("t9").cast("double") / F.lit(1_000_000_000.0), 6
        ).alias("psi_term"),
        "psi",
    )


# --------------------------------------------------------------------------
# exact weighted median via value-domain compression
# --------------------------------------------------------------------------

WEIGHTED_MEDIAN_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
d AS (
  SELECT flag, cents, SUM(qty) AS wsum
  FROM w GROUP BY 1, 2
),
c AS (
  SELECT flag, cents, wsum,
         SUM(wsum) OVER (PARTITION BY flag ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wsum) OVER (PARTITION BY flag) AS total
  FROM d
)
SELECT flag,
       CAST(MAX(total) AS BIGINT) AS total_qty,
       CAST(MIN(CASE WHEN 2 * cum >= total THEN cents END) AS BIGINT)
         AS median_price_cents
FROM c GROUP BY flag
"""


@query("weighted_median_price", oracle=WEIGHTED_MEDIAN_ORACLE)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag (the
    lower weighted median: smallest price at which cumulative quantity
    reaches half the total) — the inventory-valuation statistic a plain
    median gets wrong when line sizes vary.

    Scale — value-domain compression: prices collapse to exact integer
    cents FIRST (one map-side-combined groupBy), so the ordered
    cumulative window runs over the (flag, DISTINCT cents) relation —
    bounded by the PRICE DOMAIN, not the row count; at 100 TB the
    window input is the same size as at 100 MB. All arithmetic is
    exact integers; the median pick is a deterministic conditional MIN.
    """
    from pyspark.sql import Window

    li = Catalog(spark, sf_dir).lineitem
    d = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).groupBy("flag", "cents").agg(F.sum("qty").alias("wsum"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("flag")
    c = d.select(
        "flag",
        "cents",
        F.sum("wsum").over(w_cum).alias("cum"),
        F.sum("wsum").over(w_all).alias("total"),
    )
    return c.groupBy("flag").agg(
        F.max("total").alias("total_qty"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("total"), F.col("cents"))
        ).alias("median_price_cents"),
    )


# --------------------------------------------------------------------------
# distribution drift, CDF form: exact two-sample Kolmogorov–Smirnov
# --------------------------------------------------------------------------

KS_ORACLE = """
WITH bounds AS (
  SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
),
tagged AS (
  SELECT CAST(ROUND(value * 1000000, 0) AS BIGINT) AS v,
         CASE WHEN epoch_us(ts) < bounds.mid THEN 1 ELSE 0 END AS is_ref
  FROM events, bounds
),
vals AS (
  SELECT v, CAST(SUM(is_ref) AS BIGINT) AS ca,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cb
  FROM tagged GROUP BY v
),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM vals),
cum AS (
  SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb
  FROM vals
),
d AS (
  SELECT MAX(ABS(CAST(cuma AS DECIMAL(38,0)) * (SELECT nb FROM tot)
             - CAST(cumb AS DECIMAL(38,0)) * (SELECT na FROM tot))) AS dm
  FROM cum
)
SELECT CAST((SELECT na FROM tot) AS BIGINT) AS n_ref,
       CAST((SELECT nb FROM tot) AS BIGINT) AS n_cur,
       ROUND(CAST(dm AS DOUBLE)
             / (CAST((SELECT na FROM tot) AS DOUBLE)
                * CAST((SELECT nb FROM tot) AS DOUBLE)), 6) AS ks
FROM d
"""


@query("value_drift_ks", oracle=KS_ORACLE)
def value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic on the event-value
    distribution, first time half (reference) vs second (current) — the
    binning-free companion to `value_drift_psi`: D compares the FULL
    empirical CDFs, so no bin-width policy can hide a shift.
    ``operators/stats.py ks_two_sample``.

    Exactness: D maximizes |cum_ref·n_cur − cum_cur·n_ref| over pure
    integers (DECIMAL(38,0) products) with ONE double division at the
    end — hash-stable at any parallelism.

    Scale: the oracle's single global cumulative window would serialize
    a 1000-executor cluster; the operator decomposes it into the
    segmented prefix sum (`peak_concurrency`'s shape): within-bucket
    windows over one value-range bucket's DISTINCT values, plus a
    bucket-count-sized carry cumulation (25-unit buckets — the PSI bin
    convention; constant-partitioned, control-plane sized by
    construction). Data-sized work is one groupBy to the distinct-value
    domain.
    """
    from ..operators.stats import ks_two_sample

    ev = Catalog(spark, sf_dir).events
    bounds = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias(
            "mid"
        )
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").alias("v"),
        F.when(F.unix_micros("ts") < F.col("mid"), 1).otherwise(0).alias(
            "is_ref"
        ),
    )
    return ks_two_sample(tagged, value_col="v", ref_col="is_ref")


# --------------------------------------------------------------------------
# Pareto frontier (skyline): cheapest-for-size parts per brand
# --------------------------------------------------------------------------

PARETO_ORACLE = """
SELECT r.p_brand, r.p_partkey, r.p_retailprice, r.p_size
FROM part r
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = r.p_brand
    AND q.p_retailprice <= r.p_retailprice
    AND q.p_size >= r.p_size
    AND (q.p_retailprice < r.p_retailprice OR q.p_size > r.p_size)
)
"""


@query("part_pareto_frontier", oracle=PARETO_ORACLE)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline) on (price ↓ better,
    size ↑ better): parts no brand-mate strictly dominates. The
    classic two-criteria skyline, computed WITHOUT the quadratic
    self-join the naive formulation implies.

    Algorithm: value-domain compression (the ``weighted_median_price``
    pattern) — one groupBy to (brand, price) keeps max size per
    distinct price; a per-brand window over that PRICE DOMAIN (bounded
    by the price grid, not row count) takes the running max size over
    strictly cheaper prices; joining back, a part survives iff no
    cheaper price reached its size (m1 < size) and it carries its own
    price's max size (ties at the same (price, size) all survive —
    dominance requires one strict inequality). The oracle is the
    O(n²) NOT EXISTS formulation — a genuinely different algorithm,
    so agreement validates the window derivation itself.

    Scale: the window runs on ≤ |brand|×|price grid| rows; the
    data-sized work is one groupBy and one equi-join on
    (brand, price) — both key-aligned shuffles. Doubles compare
    exactly (both engines read identical parquet bits); no arithmetic
    is performed on them.
    """
    p = Catalog(spark, sf_dir).part.select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    g = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("__gmax")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gg = g.select(
        "p_brand",
        "p_retailprice",
        "__gmax",
        F.max("__gmax").over(w).alias("__m1"),
    )
    return (
        p.join(gg, ["p_brand", "p_retailprice"])
        .where(
            (F.col("__m1").isNull() | (F.col("__m1") < F.col("p_size")))
            & (F.col("__gmax") <= F.col("p_size"))
        )
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# per-column table profile: nulls + exact distinct in one unpivoted pass
# --------------------------------------------------------------------------

EVENTS_PROFILE_ORACLE = """
WITH u AS (
  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS v FROM events
  UNION ALL
  SELECT 'ts', CAST(epoch_us(ts) AS VARCHAR) FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'event_type', event_type FROM events
  UNION ALL
  SELECT 'value', CAST(CAST(ROUND(value * 1000000, 0) AS BIGINT) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'props', props FROM events
),
g AS (SELECT col_name, v, COUNT(*) AS c FROM u GROUP BY col_name, v)
SELECT col_name,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(v) AS n_distinct
FROM g GROUP BY col_name
"""


@query("events_profile", oracle=EVENTS_PROFILE_ORACLE)
def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile of the event stream — row count, null
    count, and EXACT distinct cardinality for every column, the
    first-look diagnostic every ingestion pipeline runs before trusting
    a new feed.

    Cross-engine canon: each column is mapped to an injective string
    key — integers/strings cast directly, timestamps via epoch-micros
    (the nanos-repair convention), doubles via the 1e6 integer scale —
    so DISTINCT counts agree bit-for-bit without depending on either
    engine's float/timestamp print format.

    Scale: stack() unpivots in the projection (Spark keeps NULL cells,
    matching the UNION ALL oracle — SQL UNPIVOT would drop them), then
    the dedup-first two-level aggregate: first shuffle keys on
    high-cardinality (col_name, value) — NEVER a 6-partition col_name
    shuffle of raw rows — and the second runs over distinct values
    only. One scan, no Expand rewrite, no COUNT(DISTINCT) row
    multiplication.
    """
    ev = Catalog(spark, sf_dir).events
    u = ev.select(
        F.expr(
            "stack(6, "
            "'event_id', CAST(event_id AS STRING), "
            "'ts', CAST(unix_micros(ts) AS STRING), "
            "'user_id', CAST(user_id AS STRING), "
            "'event_type', event_type, "
            "'value', CAST(CAST(ROUND(value * 1000000, 0) AS BIGINT) AS STRING), "
            "'props', props) AS (col_name, v)"
        )
    )
    g = u.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("c"))
    return g.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_nulls"),
        F.count("v").alias("n_distinct"),
    )


# --------------------------------------------------------------------------
# robust outliers: median / MAD (the heavy-tail-safe z-score companion)
# --------------------------------------------------------------------------

MAD_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 1000000, 0) AS BIGINT) AS v,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, MAX(n) AS n,
         MIN(CASE WHEN 2 * cum >= n THEN v END) AS med
  FROM cum GROUP BY event_type
),
d AS (
  SELECT v.event_type, ABS(v.v - med.med) AS d, SUM(v.c) AS c
  FROM v JOIN med ON v.event_type = med.event_type
  GROUP BY 1, 2
),
dcum AS (
  SELECT event_type, d, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type, MIN(CASE WHEN 2 * cum >= n THEN d END) AS mad
  FROM dcum GROUP BY event_type
),
outl AS (
  SELECT d.event_type,
         SUM(CASE WHEN 10000 * d.d > 44478 * mad.mad THEN d.c ELSE 0 END)
           AS n_outliers
  FROM d JOIN mad ON d.event_type = mad.event_type
  GROUP BY 1
)
SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
       ROUND(CAST(m.med AS DOUBLE) / 1000000.0, 6) AS median,
       ROUND(CAST(a.mad AS DOUBLE) / 1000000.0, 6) AS mad,
       CAST(o.n_outliers AS BIGINT) AS n_outliers
FROM med m
JOIN mad a ON a.event_type = m.event_type
JOIN outl o ON o.event_type = m.event_type
"""


@query("value_mad_outliers", oracle=MAD_ORACLE)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier audit: median and MAD (median absolute
    deviation) with the 3σ-equivalent cutoff |v − med| > 3·1.4826·MAD —
    heavy-tail-safe where a mean/σ z-score is not (one extreme value
    shifts a mean arbitrarily; it moves a median by at most one rank).

    Exactness: both medians are the LOWER median over the integer-scaled
    value domain (deterministic conditional MIN at 2·cum ≥ n — the
    ``weighted_median_price`` convention, no two-middle averaging), and
    the cutoff is the exact integer test 10000·d > 44478·MAD
    (3·1.4826 = 4.4478 exactly). No double ever crosses an aggregate;
    the two reported doubles are fixed-order final casts.

    Scale — value-domain compression twice over: the events scan
    collapses to (type, DISTINCT value) counts in one map-side-combined
    groupBy; every later stage (median window, deviation re-group, MAD
    window, outlier sum) runs on domain-sized relations. The med/MAD
    joins broadcast types-sized tables. At 100 TB the post-scan cost is
    unchanged from 100 MB.
    """
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).events
    v = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 1_000_000, 0).cast("bigint").alias("v"),
        )
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = v.select(
        "event_type",
        "v",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("v"))
        ).alias("med"),
    )
    d = (
        v.join(F.broadcast(med.select("event_type", "med")), "event_type")
        .select(
            "event_type",
            F.abs(F.col("v") - F.col("med")).alias("d"),
            "c",
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c").alias("c"))
    )
    wd_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dcum = d.select(
        "event_type",
        "d",
        "c",
        F.sum("c").over(wd_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    mad = dcum.groupBy("event_type").agg(
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("d"))
        ).alias("mad")
    )
    outl = (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.lit(10000) * F.col("d") > F.lit(44478) * F.col("mad"),
                    F.col("c"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return (
        med.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(outl), "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("med").cast("double") / 1_000_000.0, 6).alias(
                "median"
            ),
            F.round(F.col("mad").cast("double") / 1_000_000.0, 6).alias(
                "mad"
            ),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# chi-square goodness-of-fit: day-of-week uniformity of order volume
# --------------------------------------------------------------------------

DOW_UNIFORMITY_ORACLE = """
WITH d AS (
  SELECT isodow(o_orderdate) AS dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1
),
spine AS (SELECT g.dow FROM UNNEST(generate_series(1, 7)) AS g(dow)),
f AS (
  SELECT s.dow, COALESCE(d.o, 0) AS o
  FROM spine s LEFT JOIN d ON d.dow = s.dow
),
t AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM f)
SELECT t.n,
       ROUND(CAST(SUM(CAST((7 * f.o - t.n) AS HUGEINT)
                      * (7 * f.o - t.n)) AS DOUBLE)
             / CAST(7 AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS chi2,
       CAST(6 AS BIGINT) AS dof
FROM f, t
GROUP BY t.n
"""


@query("order_dow_uniformity", oracle=DOW_UNIFORMITY_ORACLE)
def order_dow_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square GOODNESS-OF-FIT test: is order volume uniform across
    weekdays? The one-sample companion to ``ab_conversion_chi2``'s
    independence test — χ² = Σ(o_d − n/7)²/(n/7), algebraically
    rearranged to Σ(7·o_d − n)² / (7n) so the numerator is an EXACT
    integer sum (no rational expectation ever hits a double until the
    final fixed-order expression, ROUND 6). Weekdays with zero orders
    still contribute their full expected-count term via the 7-row
    spine (the chi2_independence empty-cell lesson). Monday-based
    day numbering on both engines (Spark weekday()+1 ≡ DuckDB isodow).

    Scale: one scan → 7-row aggregate → scalar; nothing else.
    """
    o = Catalog(spark, sf_dir).orders
    d = (
        o.select((F.weekday("o_orderdate") + F.lit(1)).alias("dow"))
        .groupBy("dow")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    spine = spark.range(1, 8).select(F.col("id").cast("int").alias("dow"))
    f = spine.join(d, "dow", "left").select(
        "dow", F.coalesce("o", F.lit(0)).alias("o")
    )
    t = f.groupBy().agg(F.sum("o").cast("bigint").alias("n"))
    g = f.crossJoin(F.broadcast(t))
    dev = (F.lit(7) * F.col("o") - F.col("n")).cast("decimal(38,0)")
    return g.groupBy("n").agg(
        F.round(
            F.sum(dev * dev).cast("double")
            / F.lit(7.0).cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("chi2"),
        F.lit(6).cast("bigint").alias("dof"),
    ).select("n", "chi2", "dof")


# --------------------------------------------------------------------------
# Trimmed mean — the robust-statistics companion to value_mad_outliers
# on the MONEY axis: drop the cheapest and priciest 5% of orders per
# priority before averaging, so a handful of whale orders can't move
# the per-priority health metric. Exact by value-domain compression:
# integer cents, per-priority cumulative counts over DISTINCT values
# only, boundary values partially dropped by exact integer arithmetic.
# --------------------------------------------------------------------------

TRIM_PCT_DEN = 20  # n div 20 = 5% trimmed from EACH side

TRIMMED_MEAN_ORACLE = f"""
WITH c AS MATERIALIZED (
  SELECT o_orderpriority AS priority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
),
w AS MATERIALIZED (
  SELECT priority, cents, cnt,
         SUM(cnt) OVER (PARTITION BY priority ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY priority) AS n
  FROM c
),
k AS (
  SELECT priority, cents, cnt, cum, n, n // {TRIM_PCT_DEN} AS k FROM w
),
kept AS (
  SELECT priority, n, k,
         cnt
         - GREATEST(0, LEAST(cnt, k - (cum - cnt)))
         - GREATEST(0, LEAST(cnt, cum - (n - k))) AS kc,
         cents
  FROM k
)
SELECT priority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(MAX(n) - 2 * MAX(k) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(kc * cents) AS DOUBLE)
             / CAST(MAX(n) - 2 * MAX(k) AS DOUBLE) / 100.0, 6)
         AS trimmed_mean
FROM kept
GROUP BY 1
"""


@query("order_value_trimmed_mean", oracle=TRIMMED_MEAN_ORACLE)
def order_value_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-two-sided trimmed mean of order value per priority. The trim
    boundary splits EXACTLY: a cent-value straddling the k-th order
    drops only its below-boundary multiplicity (integer
    GREATEST/LEAST arithmetic), so the result equals the sorted-list
    definition without any per-row sort.

    Scale: the window runs over the compressed (priority, cents) VALUE
    DOMAIN — distinct prices, not orders — partitioned by priority;
    the raw scan collapses to that domain in one map-side-combined
    groupBy. The sorted-list formulation would be a global sort of all
    orders; this is a domain-sized window after an aggregation.
    """
    o = Catalog(spark, sf_dir).orders
    cents = (dec("o_totalprice") * 100).cast("bigint")
    c = (
        o.select(
            F.col("o_orderpriority").alias("priority"), cents.alias("cents")
        )
        .groupBy("priority", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.partitionBy("priority").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("priority")
    g = (
        c.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("k", F.expr(f"n div {TRIM_PCT_DEN}"))
        .withColumn(
            "kc",
            F.col("cnt")
            - F.greatest(
                F.lit(0),
                F.least(F.col("cnt"), F.col("k") - (F.col("cum") - F.col("cnt"))),
            )
            - F.greatest(
                F.lit(0), F.least(F.col("cnt"), F.col("cum") - (F.col("n") - F.col("k")))
            ),
        )
    )
    return g.groupBy("priority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (F.max("n") - 2 * F.max("k")).cast("bigint").alias("n_kept"),
        F.round(
            F.sum(F.col("kc") * F.col("cents")).cast("double")
            / (F.max("n") - 2 * F.max("k")).cast("double")
            / F.lit(100.0),
            6,
        ).alias("trimmed_mean"),
    )
