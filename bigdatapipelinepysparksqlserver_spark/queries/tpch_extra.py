"""Extended TPC-H coverage (q11/q18/q22), adapted to the testdata's
reduced star schema; q1/q3/q5 live in relational_queries.py.

Adaptations (the testdata has no partsupp table and no c_phone):

- q11 measures nation spend SUM(l_extendedprice) instead of
  supplycost×availqty (no partsupp).
- q22 derives the "country code" grouping from ``c_nationkey`` instead of
  ``substring(c_phone, 1, 2)``.

All are oracle-checked (DuckDB), decimal-exact per the package-wide
numeric-determinism policy, and keep the canonical TPC-H plan shapes:
dims broadcast, facts shuffle once on their join key, top-k lowered to
TakeOrderedAndProject.
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.expressions import dec
from ..operators.relational import top_k
from ..sources.catalog import Catalog
from .registry import query


# --------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING over a fact-side agg)
# --------------------------------------------------------------------------

TPCH_Q18_ORACLE = """
SELECT
  c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 250
)
GROUP BY 1, 2, 3, 4, 5
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@query("tpch_q18", oracle=TPCH_Q18_ORACLE, headline=True)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with orders above a quantity threshold
    (threshold 250 ≈ top decile at the testdata's ≤13 lines/order).

    Scale: the HAVING subquery is a lineitem groupBy(orderkey) whose output
    is orders-cardinality; it semi-joins orders BEFORE the customer join, so
    only qualifying orders (rare) reach the wide join (customer is unhinted —
    it grows with SF; AQE broadcasts it while it fits). The re-aggregation
    reuses the same orderkey partitioning (no extra exchange under AQE).
    Top-100 lowers to TakeOrderedAndProject with an orderkey tie-break for
    a deterministic hash.
    """
    t = Catalog(spark, sf_dir)
    big_orders = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .where(F.col("tot_qty") > 250)
        .select(F.col("l_orderkey").alias("big_okey"))
    )
    agg = (
        t.lineitem.select("l_orderkey", "l_quantity")
        .join(big_orders, F.col("l_orderkey") == F.col("big_okey"), "left_semi")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer.select("c_custkey", "c_name"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
    )
    return top_k(agg, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 100)


# --------------------------------------------------------------------------
# Q22 — dormant high-balance customers by nation
# --------------------------------------------------------------------------

TPCH_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS threshold FROM customer WHERE c_acctbal > 0.0
)
SELECT
  c.c_nationkey AS cntry,
  COUNT(*) AS numcust,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.threshold
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c.c_nationkey
"""


@query("tpch_q22", oracle=TPCH_Q22_ORACLE)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted): customers with above-average balance and no
    RECENT orders (since 2000-01-01), grouped by nation. Two adaptations:
    c_nationkey replaces the c_phone country-code prefix (no c_phone), and
    the anti join is time-windowed — in this dense testdata every customer
    has SOME order, so the spec's no-orders-ever predicate would be
    vacuously empty.

    Scale: the scalar average is a 1-row agg broadcast as a crossJoin (the
    ONE legitimate cartesian shape — 1×N). The anti join on orders is the
    big operation; it shuffles on custkey, and the o_orderdate filter both
    pushes to the orders scan and shrinks the anti join's build side. The
    balance filter applies before the anti join, shrinking its probe side.
    Double avg is a single scalar — no per-group accumulation-order hazard
    for the value hash.
    """
    t = Catalog(spark, sf_dir)
    threshold = (
        t.customer.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("threshold"))
    )
    rich = (
        t.customer.select("c_custkey", "c_nationkey", "c_acctbal")
        .crossJoin(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("threshold"))
    )
    recent_orders = t.orders.where(
        F.col("o_orderdate") >= F.lit(datetime(2000, 1, 1))
    ).select("o_custkey")
    dormant = rich.join(
        recent_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        dormant.groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q11 (adapted) — important part holdings within one nation
# --------------------------------------------------------------------------

TPCH_Q11_ORACLE = """
WITH spend AS (
  SELECT l.l_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_1'
  GROUP BY l.l_partkey
)
SELECT l_partkey AS ps_partkey, CAST(value AS DOUBLE) AS value
FROM spend
WHERE value > (SELECT SUM(value) * 0.001 FROM spend)
"""


@query("tpch_q11", oracle=TPCH_Q11_ORACLE)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted): parts representing an outsized share of one
    nation's supplier spend. No partsupp availqty, so value :=
    SUM(l_extendedprice) over the nation's lineitems per part.

    Scale: the Q15 pattern — the fraction-of-total threshold is a global
    aggregate over the per-part spend, broadcast back onto it; both
    branches are canonically identical so ReuseExchange computes the
    spend subtree once (single lineitem scan, no single-partition stage).
    """
    t = Catalog(spark, sf_dir)
    nation_supp = (
        t.supplier.join(
            F.broadcast(t.nation.where(F.col("n_name") == "NATION_1")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    spend = (
        t.lineitem.where(F.col("l_partkey").isNotNull())
        .join(nation_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("value"))
    )
    threshold = spend.agg(
        (F.sum("value") * F.lit(0.001)).alias("threshold")
    )
    return (
        spend.join(F.broadcast(threshold), F.col("value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value").cast("double").alias("value"),
        )
    )
