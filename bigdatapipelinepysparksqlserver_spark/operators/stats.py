"""Exact-moment statistics over integer-scaled columns.

The cross-engine exactness pattern (shared with the trigram LM):
continuous values are integer-scaled PER ROW
(``CAST(ROUND(v * 1e6, 0) AS BIGINT)`` — one deterministic double op
per row, never compounded), every aggregate runs on exact integers
(DECIMAL(38,0) sums, order-free), and the final statistic derives in
ONE fixed-operand-order double expression per group — so Spark and a
DuckDB oracle produce bit-identical results at any parallelism.

Built-ins like ``F.corr`` are double-accumulating: their merge order
depends on partitioning, so the last ulps differ run to run and
engine to engine — fine for exploration, unusable under an exact
hash-compare gate.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

_D = "decimal(38,0)"


def scaled_bigint(col: Column, scale: int = 1_000_000) -> Column:
    """Integer-scale a double column: ``ROUND(col * scale, 0)`` cast to
    BIGINT. One deterministic double op per row; everything downstream
    is exact. Caller guarantees ``|col| * scale`` fits a BIGINT and,
    for product moments, that the scaled pairwise products fit too
    (|x·y| < 2^63 per row — the sums themselves are DECIMAL(38,0))."""
    return F.round(col * F.lit(scale), 0).cast("bigint")


def grouped_pearson_corr(
    df: DataFrame,
    keys: Sequence[str],
    x: Column,
    y: Column,
    alias: str = "corr",
) -> DataFrame:
    """Per-group Pearson correlation from exact integer moments.

    ``x`` and ``y`` must already be integer (BIGINT) expressions — use
    :func:`scaled_bigint` for continuous inputs. The six moments
    (n, Σx, Σy, Σx², Σy², Σxy) aggregate as DECIMAL(38,0) — exact and
    order-free — and r derives per group in one fixed double
    expression, ROUND(…, 6). Zero-variance groups yield NULL (the
    mathematical convention; a constant column has no correlation).

    Scale: one scan-side projection + one groupBy with map-side
    partials (six 16-byte accumulators per key) — the same shape as a
    COUNT/SUM rollup; no second pass, no window, no join.
    """
    xx = x.cast(_D)
    yy = y.cast(_D)
    moments = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(xx).alias("__sx"),
        F.sum(yy).alias("__sy"),
        F.sum((x * x).cast(_D)).alias("__sxx"),
        F.sum((y * y).cast(_D)).alias("__syy"),
        F.sum((x * y).cast(_D)).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    r = F.when(den > F.lit(0.0), F.round(num / den, 6))
    return moments.select(
        *keys,
        F.col("__n").alias("n"),
        r.alias(alias),
    )


def equi_depth_histogram(
    df: DataFrame, value_col: str, bins: int = 10
) -> DataFrame:
    """Equi-depth (quantile-binned) histogram — the skew-robust
    companion to ``fixed_width_histogram``: bin edges are the exact
    interpolated quantiles of the data, so each bin holds ~N/bins rows
    no matter how skewed the distribution. Edges round to 6 dp before
    any comparison (the repo's cross-engine double contract —
    ``percentile`` ≡ DuckDB ``quantile_cont``); values sit in bin i
    when ``edge[i] <= v < edge[i+1]``, the last bin inclusive.
    Duplicate edges (discrete data) leave their bins empty — a value
    equal to a run of collapsed edges fails every ``v < edge`` test and
    lands in the bin after the run (pytest pins a 90 %-spike example).

    Scale: edges come from ONE exact-percentile aggregate (a single
    1-row relation, broadcast-cross-joined back — never collected to
    literals, so the plan is one scan + one model-sized broadcast);
    the bin CASE is scan-side and the final groupBy collapses map-side
    to ≤ bins rows per task.
    """
    if bins <= 1:
        raise ValueError(f"bins must be >= 2, got {bins}")
    fracs = ", ".join(str(i / bins) for i in range(1, bins))
    edges = df.agg(
        F.expr(
            f"transform(percentile({value_col}, array({fracs})),"
            " e -> round(e, 6))"
        ).alias("__edges")
    )
    v = F.col(value_col).cast("double")
    # CASE chain from the lowest edge up: the innermost (first-built)
    # branch is the default bins-1; each wrap claims "below edge[i] →
    # bin i-1", so the outermost test (edge 1) wins for the smallest
    # values — every v lands on the FIRST edge it is below
    bin_id = F.lit(bins - 1)
    for i in range(bins - 1, 0, -1):
        bin_id = F.when(
            v < F.element_at(F.col("__edges"), i), F.lit(i - 1)
        ).otherwise(bin_id)
    counts = (
        df.crossJoin(F.broadcast(edges))
        .select(bin_id.cast("bigint").alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").alias("bin_id"))
    return (
        grid.join(counts, "bin_id", "left")
        .select("bin_id", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )


CHI2_SCALE = 1_000_000_000  # integer units of a chi-square cell term


def chi2_independence(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Pearson chi-square statistic for independence of two categorical
    columns (the A/B-test / drift-audit significance primitive).

    Exactness contract (the module pattern): observed counts and both
    margins are exact BIGINTs from order-free aggregates; each CELL's
    term (o − e)²/e is ONE fixed-operand-order double expression,
    immediately integer-scaled (``ROUND(term * CHI2_SCALE)``); the final sum
    runs on the integers — so the statistic is bit-identical at any
    parallelism and against a same-shaped DuckDB oracle. The FULL
    nr × nc grid is materialized (distinct row keys × distinct col
    keys, observed counts left-joined, absent cells coalesced to 0) so
    an empty cell — e.g. an experiment arm with zero conversions —
    contributes its full expected term (0 − e)²/e = e instead of
    silently dropping out and understating the statistic. Margins stay
    > 0 because every grid key was observed on its own axis, so e > 0.

    Scale: one data-sized groupBy (map-side partials) produces the
    contingency table; everything after runs on CARDINALITY-sized
    relations (the nr × nc grid cross-join is categorical-cardinality
    sized and broadcast). Returns one row:
    (n, dof, chi2) with chi2 rounded to 6 dp.
    """
    obs = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("o"))
    grid = obs.select(row_col).distinct().crossJoin(
        F.broadcast(obs.select(col_col).distinct())
    )
    o = grid.join(obs, [row_col, col_col], "left").select(
        row_col, col_col, F.coalesce("o", F.lit(0)).alias("o")
    )
    r = o.groupBy(row_col).agg(F.sum("o").alias("rt"))
    c = o.groupBy(col_col).agg(F.sum("o").alias("ct"))
    n = o.agg(
        F.sum("o").alias("n"),
        F.count(F.lit(1)).alias("cells"),
        F.count_distinct(F.col(row_col)).alias("nr"),
        F.count_distinct(F.col(col_col)).alias("nc"),
    )
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    d = F.col("o").cast("double") - e
    term = F.round(d * d / e * F.lit(float(CHI2_SCALE)), 0).cast("bigint")
    j = o.join(r, row_col).join(c, col_col).crossJoin(F.broadcast(n))
    return j.agg(
        F.max("n").alias("n"),
        ((F.max("nr") - 1) * (F.max("nc") - 1)).alias("dof"),
        F.round(
            F.sum(term).cast("double") / F.lit(float(CHI2_SCALE)), 6
        ).alias("chi2"),
    )


def psi_from_counts(ref: dict, cur: dict) -> float:
    """PSI between two bin-count histograms (driver-side pure python —
    histograms are control-plane by contract, ≤ dozens of bins).

    Same arithmetic as the distributed `value_drift_psi` query: Laplace
    (+1 / +B) smoothing over the UNION of observed bins, per-bin
    (pa−pb)·ln(pa/pb) integer-scaled at 1e9 before summation, result
    rounded to 6 dp — so a streaming monitor's numbers are directly
    comparable with the batch query's.
    """
    import math

    bins = sorted(set(ref) | set(cur))
    b = len(bins)
    na = sum(ref.values())
    nb = sum(cur.values())
    t9 = 0
    for k in bins:
        pa = float(ref.get(k, 0) + 1) / float(na + b)
        pb = float(cur.get(k, 0) + 1) / float(nb + b)
        t9 += round((pa - pb) * math.log(pa / pb) * 1_000_000_000.0)
    return round(t9 / 1_000_000_000.0, 6)


def ks_two_sample(
    tagged: DataFrame,
    value_col: str = "v",
    ref_col: str = "is_ref",
    bucket_width: int = 25_000_000,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic
    D = max_v |F_ref(v) − F_cur(v)| over integer-scaled values — the
    distribution-drift test that, unlike PSI, needs NO binning policy
    (it compares the full empirical CDFs). Input: rows of
    (value_col BIGINT already integer-scaled, ref_col 1/0).

    Exactness: the max runs over
    |cum_ref·n_cur − cum_cur·n_ref| — pure integers (DECIMAL(38,0)
    products), divided by n_ref·n_cur ONCE at the end — so D is exact
    and hash-stable at any parallelism.

    Scale (the peak_concurrency segmented-prefix-sum shape, minus the
    per-day outer group): the data-sized work is ONE groupBy compressing
    to the distinct-value domain; within-bucket cumulative windows
    order only one value-range bucket's distinct values
    (``bucket_width`` on the scaled domain — the PSI bin convention);
    the carry cumulation runs on the BUCKETS relation
    (value-range/width rows — control-plane sized), formally
    partitioned on a constant column (the repo bans partition-less
    windows; this one group is bucket-count-sized by construction,
    never data-sized — the top-k board convention of
    copurchase_triangles_node_est).
    Returns one row (n_ref, n_cur, ks 6-dp).
    """
    v = F.col(value_col)
    vals = tagged.groupBy(v.alias("__v")).agg(
        F.sum(F.col(ref_col)).alias("__ca"),
        F.sum(F.lit(1) - F.col(ref_col)).alias("__cb"),
    ).select(
        "__v", "__ca", "__cb",
        F.expr(f"__v div {bucket_width}").alias("__bk"),
    )
    w_in = (
        Window.partitionBy("__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = vals.select(
        "__v", "__bk",
        F.sum("__ca").over(w_in).alias("__ia"),
        F.sum("__cb").over(w_in).alias("__ib"),
        "__ca", "__cb",
    )
    per_bucket = vals.groupBy("__bk").agg(
        F.sum("__ca").alias("__sa"), F.sum("__cb").alias("__sb")
    )
    tot = vals.groupBy().agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    # the carry window partitions on the (data-derived, constant) total
    # column — formally partitioned (the repo bans partition-less
    # windows; a literal would be constant-folded away): its one group
    # is the BUCKETS relation, bucket-count-sized by construction,
    # never data-sized (copurchase_triangles_node_est's board convention)
    w_carry = (
        Window.partitionBy("__na")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = per_bucket.crossJoin(F.broadcast(tot)).select(
        "__bk", "__na", "__nb",
        F.coalesce(F.sum("__sa").over(w_carry), F.lit(0)).alias("__pa"),
        F.coalesce(F.sum("__sb").over(w_carry), F.lit(0)).alias("__pb"),
    )
    cum = within.join(carry, "__bk")
    diff = F.abs(
        (F.col("__pa") + F.col("__ia")).cast("decimal(38,0)") * F.col("__nb")
        - (F.col("__pb") + F.col("__ib")).cast("decimal(38,0)") * F.col("__na")
    )
    return cum.groupBy().agg(
        F.max("__na").alias("n_ref"),
        F.max("__nb").alias("n_cur"),
        F.round(
            F.max(diff).cast("double")
            / (
                F.max("__na").cast("double") * F.max("__nb").cast("double")
            ),
            6,
        ).alias("ks"),
    )
