"""Extended TPC-H coverage (q18) over the testdata's reduced star
schema; q1/q3/q5 live in relational_queries.py.

Oracle-checked (DuckDB), decimal-exact per the package-wide
numeric-determinism policy, and in the canonical TPC-H plan shape:
dims broadcast, facts shuffle once on their join key, top-k lowered to
TakeOrderedAndProject.
"""

from __future__ import annotations

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
