"""Relational operator surface (SURVEY.md §2) as composable DataFrame
functions.

Every function is declarative — it builds a logical plan and hands physical
strategy to Catalyst/AQE. Scale notes are attached per operator: what
shuffles, what broadcasts, what prunes.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.expressions import dec


def denormalize(fact: DataFrame, dims: Sequence[tuple[DataFrame, Column]]) -> DataFrame:
    """J1 — star-schema denormalization: fact LEFT OUTER JOIN each dim.

    Mirrors ``load_sales_history.py:112-115`` (Sales ⟕ Clients ⟕ Products).
    LEFT OUTER is load-bearing: dangling FKs survive with null dim columns.

    Scale: dims are broadcast (hash-join, zero shuffle of the fact side).
    At 100 TB the fact table never moves; each executor streams its parquet
    splits against an in-memory dim hash map. Every caller joins the
    reference's client and product dims, which fit in memory.
    """
    out = fact
    for dim, cond in dims:
        out = out.join(F.broadcast(dim), cond, "left")
    return out


def grouped_count_distinct(
    df: DataFrame, keys: Sequence[Column | str], distinct_col: str, alias: str
) -> DataFrame:
    """A2 — exact COUNT(DISTINCT x) GROUP BY keys (mart query 1 shape,
    ``load_sales_mart.py:26-29``).

    Exact (not approx_count_distinct) because reconciliation demands strict
    equality. Catalyst plans the two-phase Expand + partial/final aggregate;
    the only full shuffle is on the grouping keys.
    """
    return df.groupBy(*keys).agg(F.countDistinct(distinct_col).alias(alias))


def changed_partitions(branches: Sequence[DataFrame], key: str = "year_month") -> DataFrame:
    """U1+A1 — the CDC changed-partition work list, unordered.

    UNION-with-dedup of the insert/update/delete branches; T-SQL UNION
    dedups implicitly, Spark ``union`` is UNION ALL, hence the explicit
    ``distinct()`` (SURVEY §7.5 trap #2). Mirrors load_sales_history.py:80-96.
    Sorting is the caller's, as in the reference, which sorts the collected
    list on the driver (O1, load_sales_history.py:95-96): a Spark ``orderBy``
    would cost a range-sampling job and a second shuffle for a handful of keys.

    Scale: each branch should already be a single-column projection; distinct
    over a handful of partition keys is a trivially small shuffle.
    """
    out = branches[0].select(key)
    for b in branches[1:]:
        out = out.union(b.select(key))
    return out.distinct()


def reconcile_aggs(df: DataFrame, count_col: str, sum_col: str) -> DataFrame:
    """A4+F1 — two-sided validation aggregate: COALESCE(COUNT,0), COALESCE(SUM,0).

    The lake-side half of the reference's reconciliation
    (load_sales_history.py:225-232); run against any source twin and compared
    for exact equality. Sum is decimal → exact, order-independent.
    """
    return df.agg(*reconcile_cols(count_col, sum_col))


def reconcile_cols(count_col: str, sum_col: str) -> "list[Column]":
    """The two aggregate columns of :func:`reconcile_aggs`, for callers
    that collect them another way (``DataFrame.observe``)."""
    return [
        F.coalesce(F.count(count_col), F.lit(0)).alias("sale_count"),
        F.coalesce(F.sum(dec(sum_col)), F.lit(0).cast("decimal(18,2)")).alias("paid_sum"),
    ]


def next_run_id(ledger: DataFrame, id_col: str = "id") -> DataFrame:
    """A5 — ``COALESCE(MAX(id),0)+1`` run-id allocation
    (load_sales_history.py:25-27)."""
    return ledger.agg((F.coalesce(F.max(id_col), F.lit(0)) + F.lit(1)).alias("next_id"))


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY ... LIMIT k with a deterministic total order.

    Scale: planned as TakeOrderedAndProject — per-partition heap of k rows,
    then a k*numPartitions merge on the driver; no global sort shuffle.
    """
    return df.orderBy(*order).limit(k)


def fixed_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    bins: int,
) -> DataFrame:
    """Equi-width histogram of an integer column — the profiling
    primitive behind every distribution dashboard ("how long are my
    documents?", "what does the quality score look like per shard?").

    Out-of-range values clamp into the edge bins (a profiler must never
    drop rows silently); NULL values are the one exception — they have
    no magnitude to bin, produce a NULL bin id, and fall outside every
    bin identically in Spark and DuckDB. The clamp happens BEFORE the
    division so the
    bin arithmetic only ever sees non-negative operands, where integer
    ``DIV`` is identical across engines — every bin id is exact, no
    doubles anywhere. Empty bins are emitted with ``cnt = 0`` (a
    ``bins``-row ``spark.range`` left-joins the counts; AQE broadcasts
    the counts side), so the output is always exactly ``bins`` rows in
    bin order regardless of the data.

    Scale: one scan-side projection, one groupBy on ≤ ``bins`` distinct
    24-byte keys (map-side partial collapses each task to ≤ ``bins``
    rows — the shuffle is O(tasks × bins), independent of row count),
    then a bins-sized broadcast join. Flat at any corpus size.
    """
    if bins <= 0 or hi <= lo or (hi - lo) % bins:
        raise ValueError(
            f"need bins > 0 and (hi - lo) a positive multiple of bins; "
            f"got lo={lo} hi={hi} bins={bins}"
        )
    w = (hi - lo) // bins
    clamped = F.greatest(
        F.lit(lo), F.least(F.lit(hi - 1), F.col(value_col).cast("bigint"))
    )
    counts = (
        df.select((clamped - F.lit(lo)).alias("_off"))
        .select(F.expr(f"_off DIV {w}").alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").alias("bin_id"))
    return (
        grid.join(counts, grid.bin_id == counts._b, "left")
        .select(
            "bin_id",
            (F.lit(lo) + F.col("bin_id") * F.lit(w)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin_id") + F.lit(1)) * F.lit(w)).alias("bin_hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    fingerprint_col: str,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Dataset-versioning diff: classify every key across two corpus
    snapshots as ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, fingerprints differ), or ``unchanged``. The
    release-gate primitive behind "what moved between corpus v3 and
    v4?" — counts by status are the first thing a dataset card reports,
    and the changed/removed key lists feed downstream invalidation
    (retrain, re-embed, re-index).

    Both inputs need ``key_col`` plus a precomputed ``fingerprint_col``
    (e.g. ``md5(text)``); ``carry_cols`` are taken from the NEW side
    when present, falling back to the OLD side for removed keys, so
    every output row keeps its metadata.

    Scale: ONE full-outer join on the key — with 8-byte keys and
    16-byte fingerprints the shuffle is tens of bytes per row no matter
    how wide the corpus rows are (project before calling); status is a
    scan-side CASE over null-ness + fingerprint equality. No window, no
    skew surface beyond the key join itself.
    """
    o = old.select(
        F.col(key_col).alias("__k"),
        F.col(fingerprint_col).alias("__old_fp"),
        *[F.col(c).alias(f"__old_{c}") for c in carry_cols],
    )
    n = new.select(
        F.col(key_col).alias("__k"),
        F.col(fingerprint_col).alias("__new_fp"),
        *[F.col(c).alias(f"__new_{c}") for c in carry_cols],
    )
    j = o.join(n, "__k", "full_outer")
    status = (
        F.when(F.col("__old_fp").isNull(), F.lit("added"))
        .when(F.col("__new_fp").isNull(), F.lit("removed"))
        .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.col("__k").alias(key_col),
        status.alias("status"),
        *[
            F.coalesce(F.col(f"__new_{c}"), F.col(f"__old_{c}")).alias(c)
            for c in carry_cols
        ],
    )
