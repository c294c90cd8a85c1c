"""Graph-analytics queries: rank propagation over relational edge
lists. Connected components run inside the dedup family's queries
(`dedup_apply`, `semantic_dedup`); this module adds
the iterative-rank shape — PageRank in fixed-point integer arithmetic, so
a 3-round iterative algorithm is exactly DuckDB-replayable (EXACT
integers end to end, not a rounded handoff between rounds)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import PAGERANK_SCALE, pagerank
from ..sources.catalog import Catalog
from .registry import query

PR_ITERS = 3
_S = PAGERANK_SCALE


def _pr_iteration_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank // o.odeg) AS s
  FROM e0 e
  JOIN {prev} r ON r.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         CAST(({_S} * 15) // (100 * (SELECT n FROM params)) AS BIGINT)
         + CAST((85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{i} c USING (node)
)"""


PAGERANK_ORACLE = f"""
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
outdeg AS (SELECT src, COUNT(*) AS odeg FROM e0 GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM e0),
params AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT node, CAST({_S} // (SELECT n FROM params) AS BIGINT) AS rank
  FROM nodes
),{",".join(_pr_iteration_sql(i) for i in range(1, PR_ITERS + 1))}
SELECT node AS part_id, rank FROM r{PR_ITERS}
"""


@query("part_copurchase_pagerank", oracle=PAGERANK_ORACLE, headline=True)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are neighbors
    iff they share an order) — the iterative graph-algorithm shape as
    a graded query, in FIXED-POINT INTEGER arithmetic: ranks live in
    10¹²-units, every reduction is an exact integer SUM, every division
    an integer DIV both engines share (Spark `div` ≡ DuckDB `//` on
    the all-positive values here; Spark's `/` would route through
    double division and truncate UP on one-ulp-high quotients). Three
    rounds unrolled in the oracle as chained CTEs.

    Scale: edges join their node-sized outdegree once (persisted
    projected); each round is one node-keyed integer-sum shuffle +
    a node-sized rank join — the driver loop composes plans, no data
    crosses the driver. Per-order edge fanout is order-size-bounded
    (TPC-H ≤ 7 items).
    """
    # edge build: per-order collect_set + in-row ordered pair expansion
    # (one orderkey shuffle; the lineitem self-join form measured 77 s
    # vs 57 s at sf10). The
    # operator persists the edge⋈outdeg projection, so the build runs
    # once regardless of iteration count.
    from ..operators.graph import copurchase_edges

    edges = copurchase_edges(Catalog(spark, sf_dir).lineitem)
    return pagerank(edges, iters=PR_ITERS).select(
        F.col("node").alias("part_id"), "rank"
    )


# ---------------------------------------------------------------------------
# Weighted shortest paths (Bellman-Ford min-plus relaxation) — the
# fourth and final semiring of the iterative-graph suite: sum-product
# (PageRank), mode-argmax (LPA), frontier-union (k-hop BFS), and now
# MIN-PLUS. Edge weight = "affinity distance" 10⁶ div s_ab (strongly
# co-purchased pairs are closer); all-integer arithmetic, so 3
# relaxation rounds replay exactly as unrolled MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

SSSP_ROUNDS = 3
SSSP_SEEDS = 5
SSSP_W_SCALE = 1000000


def _sssp_round_sql(r: int) -> str:
    prev = f"d{r - 1}"
    return f"""
d{r} AS MATERIALIZED (
  SELECT seed, node, MIN(dist) AS dist FROM (
    SELECT d.seed, e.dst AS node, d.dist + e.w AS dist
    FROM {prev} d JOIN e0 e ON e.src = d.node
    UNION ALL
    SELECT seed, node, dist FROM {prev}
  ) GROUP BY 1, 2
)"""


SSSP_ORACLE = f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT x.l_partkey AS src, y.l_partkey AS dst,
         {SSSP_W_SCALE} // COUNT(*) AS w
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
  GROUP BY 1, 2
),
seeds AS MATERIALIZED (SELECT DISTINCT src AS seed FROM e0 ORDER BY seed LIMIT {SSSP_SEEDS}),
d0 AS MATERIALIZED (
  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
),{",".join(_sssp_round_sql(r) for r in range(1, SSSP_ROUNDS + 1))}
SELECT seed, node, CAST(dist AS BIGINT) AS dist FROM d{SSSP_ROUNDS}
"""


@query("copurchase_cheapest_path", oracle=SSSP_ORACLE)
def copurchase_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Bellman-Ford from five seed parts over affinity-weighted
    co-purchase edges (w = 10⁶ div shared-order count): the "how close
    is everything to my anchor products" table behind substitution and
    bundle analysis. Exact by construction — integer weights, integer
    sums, MIN relaxation.

    Scale: the distance relation is (seeds × nodes)-bounded, never
    edge-squared; each round is one src-keyed hash join of it against
    the persisted weighted edges + a (seed, node)-keyed MIN with
    map-side partials. More seeds ride the same plan (seed is just a
    key); deeper horizons iterate the same two operators.
    """
    from ..caching import scoped_persist
    from ..operators.graph import copurchase_order_pairs

    li = Catalog(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey")
    edges = scoped_persist(
        copurchase_order_pairs(li)
        .groupBy("src", "dst")
        .agg(F.expr(f"{SSSP_W_SCALE} div count(1)").alias("w"))
    )
    seeds = (
        edges.select("src").distinct().orderBy("src").limit(SSSP_SEEDS)
    )
    d = seeds.select(
        F.col("src").alias("seed"),
        F.col("src").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    for _ in range(SSSP_ROUNDS):
        relaxed = d.join(edges, d["node"] == edges["src"]).select(
            "seed",
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        d = (
            relaxed.unionByName(d)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
    return d.select("seed", "node", F.col("dist").cast("bigint").alias("dist"))


# --------------------------------------------------------------------------
# Per-node sampled triangle estimates (VERDICT r8 #3): the top-10
# board's measured 100x path. Wedge sampling — only the apex's two
# out-edges must survive the md5 gate (p^2), closed exactly against
# the full oriented edge set — so counts scale by 1/p^2 = 16 with
# strictly lower variance than the 1/p^3 subgraph form at the same
# wedge cost. The oracle replays the IDENTICAL degree-ordered
# orientation, gate, and closure, so the estimate is exact-checked.
# --------------------------------------------------------------------------

TRIANGLES_TOP_K = 10

TRIANGLES_NODE_EST_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM b x JOIN b y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
d AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS dst,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS kd,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS kn,
         (CAST('0x' || substr(
            md5(CAST(e.a AS VARCHAR) || ':' || CAST(e.b AS VARCHAR)), 1, 15)
          AS BIGINT) < {1 << 58}) AS kept
  FROM e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
),
tri AS (
  SELECT d1.u, d1.v, d2.w
  FROM (SELECT src AS u, dst AS v, kd AS kvd, kn AS kvn FROM d WHERE kept) d1
  JOIN (SELECT src AS u, dst AS w, kd AS kwd, kn AS kwn FROM d WHERE kept) d2
    ON d2.u = d1.u AND (d1.kvd, d1.kvn) < (d2.kwd, d2.kwn)
  JOIN (SELECT src AS v, dst AS w FROM d) c ON c.v = d1.v AND c.w = d2.w
),
nodes AS (
  SELECT node, COUNT(*) AS c FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) * 16 AS BIGINT) AS est_total_triangles FROM tri)
SELECT node AS part_id,
       CAST(c AS BIGINT) AS sampled_tri_count,
       CAST(c * 16 AS BIGINT) AS est_tri_count,
       CAST(ROW_NUMBER() OVER (ORDER BY c DESC, node) AS INT) AS rank,
       est_total_triangles
FROM nodes, total
ORDER BY c DESC, node
LIMIT {TRIANGLES_TOP_K}
"""


@query("copurchase_triangles_node_est", oracle=TRIANGLES_NODE_EST_ORACLE)
def copurchase_triangles_node_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 parts by ESTIMATED triangle participation — the per-node
    triangle board at a wedge cost that stays under budget at the 100x
    graph, where the exact counter (``triangle_counts``) fail-fasts by
    design.

    Estimator (operators/graph.py triangle_node_estimates): wedge
    sampling at p = 1/4 via the deterministic md5 edge gate — a
    triangle is enumerated iff BOTH its apex-leaving oriented edges
    are kept (p²), closed exactly against the full oriented edge set —
    so per-node counts scale by 1/p² = 16, an exact integer. Strictly
    lower variance than the 1/p³ subgraph form at the same ~p²-shrunk
    wedge cost (per triangle the survival indicator is Bernoulli(p²):
    Var = T_v(1−p²)/p² vs T_v(1−p³)/p³ — the DOULION analysis,
    Tsourakakis et al. KDD 2009, with the wedge-level gate). The
    sample is a hash gate, not rand(), so the oracle replays the
    identical orientation + gate + closure and checks the estimate
    EXACTLY.

    Scale: the exact counter's plan with the gate as a codegen filter
    on both wedge sides — sampled wedge space ~p²·Σ outdeg² (the 100x
    graph's 4.1 G → ~256 M, under budget); closure one hash join; the
    board lowers to TakeOrderedAndProject.
    """
    from ..caching import scoped_persist
    from ..operators.graph import triangle_node_estimates

    li = Catalog(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_structs = F.expr(
        "flatten(transform(sequence(0, size(ps) - 2),"
        " i -> transform(sequence(i + 1, size(ps) - 1),"
        " j -> struct(element_at(ps, i + 1) AS a,"
        " element_at(ps, j + 1) AS b))))"
    )
    edges = scoped_persist(
        grouped.where(F.size("ps") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    nodes = triangle_node_estimates(edges, wedge_budget=500_000_000)
    total = nodes.agg(
        (F.expr("sum(sampled_tri_count) div 3") * F.lit(16))
        .cast("long")
        .alias("est_total_triangles")
    )
    ranked = nodes.crossJoin(F.broadcast(total))
    from pyspark.sql import Window as W

    # rank runs AFTER the top-k limit (<= 10 rows) and partitions on
    # the constant est_total_triangles column — formally partitioned
    # (the repo bans partition-less windows), and the one "group" is
    # the already-limited board, never the node table
    rk = F.row_number().over(
        W.partitionBy("est_total_triangles").orderBy(
            F.col("sampled_tri_count").desc(), F.col("node")
        )
    )
    return (
        ranked.orderBy(F.col("sampled_tri_count").desc(), "node")
        .limit(TRIANGLES_TOP_K)
        .withColumn("rank", rk.cast("int"))
        .select(
            F.col("node").alias("part_id"),
            "sampled_tri_count",
            "est_tri_count",
            "rank",
            "est_total_triangles",
        )
    )
