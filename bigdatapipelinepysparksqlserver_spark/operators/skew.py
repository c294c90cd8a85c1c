"""Skew mitigation helpers.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
the session factory) handles moderate skew at runtime. These helpers are
the explicit escape hatch for PATHOLOGICAL keys — the boilerplate-heavy
LSH bucket, the single giant customer — where pre-planned salting beats
runtime splitting because it also spreads the *build* side.

Pattern: add a salt in [0, salt_buckets) to the skewed (big) side,
replicate the small side once per salt value, join on (key, salt).
Aggregations instead salt-partial-then-merge: group on (key, salt),
then re-group on key — two small shuffles instead of one skewed one.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..caching import scoped_persist


def with_salt(df: DataFrame, salt_buckets: int) -> DataFrame:
    """Deterministic per-row ``__salt`` derived from a whole-row hash (no rand():
    re-runs and retried tasks produce identical salts, keeping writes
    idempotent)."""
    return df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)).cast("int"),
    )


def replicate_for_salt(df: DataFrame, salt_buckets: int) -> DataFrame:
    """Explode the small side once per ``__salt`` value (size × salt_buckets —
    only ever applied to the broadcast-scale side)."""
    return df.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Column,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, replicate the small side.

    Each skewed key's rows scatter over ``salt_buckets`` reducers instead
    of one. Cost: small side inflates ×salt_buckets — use only when the
    small side is broadcast-scale but AQE chose (or must choose) a
    shuffle join, or when one key dwarfs the rest.

    Only inner/left/semi/anti joins are valid: the physical replication
    of the small side means a right or full outer join would emit each
    UNMATCHED small-side row once per salt value (×salt_buckets
    duplicates) — rejected rather than silently corrupted.
    """
    if how.replace("_", "").lower() not in {
        "inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti", "cross",
    }:
        raise ValueError(
            f"salted_join cannot express {how!r}: unmatched small-side rows "
            f"would duplicate once per salt bucket; use AQE skew handling for "
            f"right/full outer joins"
        )
    b = with_salt(big, salt_buckets)
    s = replicate_for_salt(small, salt_buckets)
    return b.join(s, on & (b["__salt"] == s["__salt"]), how).drop("__salt")


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregation for COUNT/SUM/MIN/MAX.

    Phase 1 groups on (keys + salt) — the skewed key's load spreads over
    ``salt_buckets`` partial groups; phase 2 merges partials per key.
    (Spark's own partial aggregation usually makes this unnecessary; it
    matters when the grouping is preceded by an exchange on the same
    skewed key, e.g. after a join on it.)

    ``aggs``: output_name -> 'count:col' | 'sum:col' | 'min:col' | 'max:col'.
    """
    merge_fn = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    phase1 = [
        getattr(F, spec.split(":")[0])(spec.split(":")[1]).alias(name)
        for name, spec in aggs.items()
    ]
    partial = with_salt(df, salt_buckets).groupBy(*keys, "__salt").agg(*phase1)
    phase2 = [
        merge_fn[spec.split(":")[0]](name).alias(name) for name, spec in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*phase2)


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Pre-flight skew diagnosis for a prospective join/agg key: the
    ``top_n`` heaviest key values with their share of the table and the
    salt-bucket count :func:`salted_join`/:func:`salted_agg` would need
    to bound per-task load at ``target_rows_per_task``.

    One exact groupBy-count pass + a driver-side total — cost of a
    count(*) per distinct key with map-side partial aggregation, which
    is the same shuffle the skewed operation itself would pay, so
    running this BEFORE a 100 TB join is cheap relative to having that
    join stall on one reducer. The per-key counts are persisted across
    the operator's two consumers (the total/nkeys scalar action here
    and the caller-materialized top-n), so the groupBy-count shuffle
    runs ONCE — lifecycle owned by the caching scope, released by the
    harness's post-materialization ``release_caches()``. The output is
    small (top_n rows) by construction.

    Columns: key value(s), ``key_rows``, ``share`` (of table rows),
    ``skew_vs_mean`` (key_rows / mean rows per distinct key — AQE's
    skew-join heuristic triggers around 5×), ``salt_buckets``
    (ceil(key_rows / target_rows_per_task), 1 = no salting needed).
    """
    counts = scoped_persist(
        df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("key_rows"))
    )
    stats = counts.agg(
        F.sum("key_rows").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    ).first()
    total, nkeys = stats["__total"] or 0, stats["__nkeys"] or 1
    mean = max(float(total) / float(nkeys), 1.0)
    return (
        counts.orderBy(F.col("key_rows").desc(), *key_cols)
        .limit(top_n)
        .select(
            *key_cols,
            "key_rows",
            F.round(F.col("key_rows") / F.lit(float(max(total, 1))), 6).alias(
                "share"
            ),
            F.round(F.col("key_rows") / F.lit(mean), 2).alias("skew_vs_mean"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("key_rows") / F.lit(float(target_rows_per_task))),
            )
            .cast("int")
            .alias("salt_buckets"),
        )
    )
