"""Temporal operators Spark lacks as built-ins: as-of join, banded range
join, and session_window sessionization that also runs on a stream.

Both are implemented as compositions of existing DataFrame operators (the
brief's option (a)) — no Pandas UDFs, no mapPartitions — so they stay
inside whole-stage codegen and scale as ordinary shuffles:

- ``asof_join``: union-then-window. Tag both inputs, union them, and run a
  single ``last(payload) IGNORE NULLS`` window per key ordered by
  (ts, seq). One shuffle on the key; no join explosion; skew bounded by
  the per-key event count (same bound any per-key window has).
- ``range_join``: time-binning. Quantize the right side into fixed-width
  bins, explode each left interval onto the (few) bins it overlaps, join
  on (key, bin) as an ordinary equi-join, then apply the exact interval
  predicate. Turns an inequality join — which Spark would otherwise plan
  as a broadcast-nested-loop / cartesian — into a hash join whose fan-out
  is ceil(span/width)+1 bins per left row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    seq_col: str,
    prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: for each left row, attach the payload of the
    LATEST right row of the same ``key`` that is strictly before it in the
    total order ``(ts, seq)``.

    ``seq_col`` must be unique per row on both sides (e.g. an event id) —
    it makes the order total, so ties on the timestamp resolve
    deterministically instead of hash-unstably. Left rows with no prior
    right row get null payload fields (left-outer semantics).

    Scale: ONE shuffle on ``key`` (the union is shuffle-free); the window
    is a single pass per key partition. Compare: the naive formulation
    (left join on key + ts inequality, then argmax) shuffles both sides
    AND explodes every left row by its full history before re-aggregating.
    """
    pay = F.struct(*[F.col(c) for c in payload_cols])
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.col(seq_col).alias("__seq"),
        pay.alias("__pay"),
        F.lit(0).alias("__side"),
    )
    l = left.select(  # noqa: E741
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.col(seq_col).alias("__seq"),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    u = r.withColumn("__row", F.lit(None).cast(l.schema["__row"].dataType)).unionByName(l)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = (
        u.withColumn("__last", F.last("__pay", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
    )
    out = matched.select(
        *[F.col("__row")[c].alias(c) for c in left.columns],
        *[F.col("__last")[c].alias(f"{prefix}{c}") for c in payload_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_us: int,
    upper_us: int,
    bin_width_us: int | None = None,
) -> DataFrame:
    """Banded interval join: pairs (l, r) with the same ``key`` and
    ``r.ts ∈ [l.ts + lower_us, l.ts + upper_us)`` (half-open, offsets may
    be negative for look-back windows). Returns the joined rows — callers
    aggregate or project as needed.

    Scale: both sides shuffle once on (key, bin); the left side first
    explodes onto ceil(span/width)+1 candidate bins (2 at the default
    width = span), so the join is an ordinary equi-join that AQE can size.
    A narrower ``bin_width_us`` trades more left-row duplication for less
    false-candidate filtering — the default (width = span) is the standard
    choice: ≤2 bins per left row, candidates within 2× of the true band.
    """
    span = upper_us - lower_us
    assert span > 0, "empty interval"
    width = bin_width_us or span
    l_us = F.unix_micros(F.col(left_ts))
    r_us = F.unix_micros(F.col(right_ts))
    lo = l_us + F.lit(lower_us)
    hi = l_us + F.lit(upper_us) - F.lit(1)  # inclusive last micro of the band
    lbin = F.explode(
        F.sequence(F.floor(lo / F.lit(width)), F.floor(hi / F.lit(width)))
    ).alias("__bin")
    lx = left.select(
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.col(key).alias("__lk"),
        lo.alias("__lo"),
        (l_us + F.lit(upper_us)).alias("__hi"),
        lbin,
    )
    rx = right.select(
        F.struct(*[F.col(c) for c in right.columns]).alias("__r"),
        F.col(key).alias("__rk"),
        r_us.alias("__rus"),
        F.floor(r_us / F.lit(width)).alias("__bin"),
    )
    joined = lx.join(rx, (F.col("__lk") == F.col("__rk")) & (lx["__bin"] == rx["__bin"]))
    exact = joined.where((F.col("__rus") >= F.col("__lo")) & (F.col("__rus") < F.col("__hi")))
    lcols = [F.col("__l")[c].alias(c) for c in left.columns]
    rcols = [F.col("__r")[c].alias(f"r_{c}") for c in right.columns]
    return exact.select(*lcols, *rcols)


US_PER_DAY = 86_400_000_000


def peak_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_us: int = 3_600_000_000,
) -> DataFrame:
    """Per-day peak number of concurrently-active CLOSED intervals
    [start, end] — the sweep-line "max overlap" query (peak concurrent
    sessions, peak open connections, max in-flight jobs). Spark has no
    interval-stabbing primitive; the naive formulation is a running sum
    over ONE global ordering, which is exactly the partition-less window
    this repo's plan audits ban.

    Shape — segmented prefix sum (a composition of ordinary operators,
    no UDFs):

    1. explode each interval onto the epoch-days it covers, clipping to
       day bounds (an interval contributes to every day it is active
       in; per-day sweeps are then self-contained — no cross-day carry
       state);
    2. emit +1 at clip_start and −1 at clip_end + 1µs (closed-interval
       semantics: an interval ending at ts X and one starting at X ARE
       concurrent at X; one starting at X+1µs is not);
    3. running sum WITHIN (day, time-bucket) partitions — the only
       ordered window runs over one bucket's boundaries, never a full
       day's;
    4. per-bucket (sum, max-prefix) roll-up, then each bucket's carry-in
       is a ≤(buckets/day)-row cumulative window per day — control-plane
       sized regardless of data volume;
    5. peak(day) = max over buckets of carry_in + within-bucket
       max-prefix.

    At 100 TB the expensive steps are two shuffles (the (day, bucket)
    window and the day roll-up); no partition ever holds more than one
    bucket's boundary events. ``bucket_us`` trades partition count for
    per-partition sort size (default 1 h).

    Returns (day BIGINT epoch-days, active_intervals, peak_concurrent).
    """
    assert 0 < bucket_us <= US_PER_DAY and US_PER_DAY % bucket_us == 0
    iv = intervals.select(
        F.unix_micros(F.col(start_col)).alias("__s"),
        F.unix_micros(F.col(end_col)).alias("__e"),
    )
    spans = iv.select(
        "__s",
        "__e",
        F.expr(
            f"explode(sequence(__s div {US_PER_DAY}, __e div {US_PER_DAY}))"
        ).alias("day"),
    )
    day_start = F.col("day") * F.lit(US_PER_DAY)
    # Both boundaries come out of ONE explode (not a self-union, which
    # would recompute the upstream interval source twice — union branches
    # containing windows defeat exchange reuse).
    # orderBy(ts, delta): the −1 of an interval ending at X−1µs sorts
    # before a +1 at X, so back-to-back intervals never double-count; the
    # prefix MAX is invariant to the order among identical (ts, delta)
    # rows (equal addends), so no further tie-break is needed.
    b = spans.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.greatest(F.col("__s"), day_start).alias("ts_us"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    (
                        F.least(
                            F.col("__e"), day_start + F.lit(US_PER_DAY - 1)
                        )
                        + F.lit(1)
                    ).alias("ts_us"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("__bd"),
    ).select(
        "day",
        F.col("__bd.ts_us").alias("ts_us"),
        F.col("__bd.delta").alias("delta"),
        F.expr(
            f"(__bd.ts_us - day * {US_PER_DAY}) div {bucket_us}"
        ).alias("bucket"),
    )
    w_in = (
        Window.partitionBy("day", "bucket")
        .orderBy("ts_us", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    per_bucket = (
        b.withColumn("run", F.sum("delta").over(w_in))
        .groupBy("day", "bucket")
        .agg(
            F.max("run").alias("max_prefix"),
            F.sum("delta").alias("bucket_sum"),
            F.sum((F.col("delta") > 0).cast("long")).alias("n_starts"),
        )
    )
    w_carry = (
        Window.partitionBy("day")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_carry = per_bucket.withColumn(
        "carry", F.coalesce(F.sum("bucket_sum").over(w_carry), F.lit(0))
    )
    return with_carry.groupBy("day").agg(
        F.sum("n_starts").alias("active_intervals"),
        F.max(F.col("carry") + F.col("max_prefix")).alias("peak_concurrent"),
    )


def streaming_sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization via native ``session_window`` — the
    streaming-capable twin of the batch lag/running-sum sessionize
    (queries.relational_queries.sessionize).

    Semantics note: ``session_window`` closes a session when the next
    event is ≥ gap after the previous (window is [start, last+gap)), so
    ``session_end`` here is last_event + gap, and an event EXACTLY at
    the gap boundary starts a new session (the batch query's ``>``
    keeps it; a difference only for timestamp collisions at exact gap
    multiples).

    Scale: one shuffle on (user, session-window merge); state per OPEN
    session only, bounded by a 10-minute watermark on a stream — this is the form
    that runs on an unbounded stream, where the lag/running-sum window
    (whole-history sort per user) cannot.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, "10 minutes")
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(user_col),
        )
        .agg(F.count(F.lit(1)).alias("events_in_session"))
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "events_in_session",
        )
    )
