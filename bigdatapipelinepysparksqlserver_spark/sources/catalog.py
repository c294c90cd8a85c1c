"""Parquet catalog for the driver testdata tables.

Tables (``/root/testdata/sf*/``): region nation customer supplier part orders
lineitem events documents embeddings — TPC-H-ish star schema plus an event
stream, a documents corpus and an embeddings table.

Scale note: the loader is a thin veneer over ``spark.read.parquet`` so that
Catalyst keeps full control — predicate pushdown, column pruning and partition
pruning all reach the parquet scan. The ONLY transformation applied eagerly is
the timestamp-storage repair: driver testdata generations have stored event
timestamps either as TIMESTAMP(NANOS) (which Spark's vectorized reader only
accepts as raw int64 via ``nanosAsLong``) or as TIMESTAMP(MICROS,
isAdjustedToUTC=false) → TIMESTAMP_NTZ; both are normalized to session-TZ
TimestampType. The repair is a pure projection, so pushdown of other
predicates is unaffected (and ``load_table_ts_window`` pushes time windows
beneath it).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, TimestampNTZType

from ..session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestamp columns with storage-variant encodings across testdata
# generations: TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong, then divided to micros) or
# TIMESTAMP_NTZ (cast to session-TZ timestamp). See _repair_nano_ts.
NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _repair_nano_ts(df: DataFrame, table: str) -> DataFrame:
    """Normalize timestamp storage variants to session-TZ TimestampType.

    Two storage encodings appear in driver testdata generations:
    - TIMESTAMP(NANOS) read as long (``nanosAsLong``): integer-divide by
      1000 — truncation toward zero matches DuckDB's nanos→micros
      narrowing exactly. ``div`` is true integer division (Spark ``/`` on
      longs is double division, whose ~256 ns ulp at ~1.7e18 rounds
      values 1 µs low).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ: cast to
      TimestampType. The session timezone is pinned to UTC, so the cast
      preserves both the wall-clock and the epoch value, and the rest of
      the engine (``unix_micros``, epoch casts, window/session_window)
      sees one uniform type.
    """
    cols = NANO_TS_COLUMNS.get(table, ())
    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if isinstance(fields.get(c), LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(fields.get(c), TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return _repair_nano_ts(df, name)


def load_table_ts_window(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    start: "datetime | None",
    end: "datetime | None",
) -> DataFrame:
    """Time-windowed scan with the predicate pushed in the RAW domain.

    The storage repair is a projection, so a filter written against the
    repaired timestamp cannot reach parquet row-group statistics
    (expression filters don't push; only attribute comparisons do). Per
    storage variant:

    - nanos-as-long: the half-open window [start, end) is rewritten into
      the raw int64 nanosecond domain BEFORE the repair — exact, because
      ts_us = ts_ns div 1000 is monotone and ``ts_us >= A ⟺ ts_ns >=
      A*1000``, ``ts_us < B ⟺ ts_ns < B*1000``.
    - TIMESTAMP_NTZ: the bounds are compared in the stored NTZ domain
      below the cast-to-session-TZ projection, as attribute predicates.
    - already-timestamp columns push down natively post-repair.

    All literal bounds are constructed TZ-INDEPENDENTLY (string→NTZ cast
    or epoch-micros arithmetic): ``F.lit(naive_datetime)`` converts via
    the driver OS timezone (Py4J uses time.mktime), NOT the session TZ,
    so it would shift the window by the UTC offset on a non-UTC driver.
    """
    apply_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    fields = {f.name: f.dataType for f in df.schema.fields}
    if isinstance(fields.get(ts_col), LongType):
        # tz-independent epoch micros (naive datetime arithmetic matches
        # Spark's UTC session handling of naive literals)
        def _ns(dt):
            return ((dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)) * 1000

        if start is not None:
            df = df.where(F.col(ts_col) >= F.lit(_ns(start)))
        if end is not None:
            df = df.where(F.col(ts_col) < F.lit(_ns(end)))
        return _repair_nano_ts(df, name)
    if isinstance(fields.get(ts_col), TimestampNTZType):
        # filter in the stored NTZ domain BEFORE the cast-to-session-TZ
        # projection so the comparison stays an attribute predicate and
        # reaches parquet row-group stats. String→NTZ cast: a naive
        # datetime through F.lit would convert via the DRIVER OS timezone
        # (not the session TZ), shifting the window on non-UTC drivers.
        def _ntz(dt):
            return F.lit(dt.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp_ntz")

        if start is not None:
            df = df.where(F.col(ts_col) >= _ntz(start))
        if end is not None:
            df = df.where(F.col(ts_col) < _ntz(end))
        return _repair_nano_ts(df, name)
    out = _repair_nano_ts(df, name)
    # epoch-micros literal: TZ-independent for the same reason as above
    # (the repaired column holds the stored wall-clock interpreted as UTC)
    def _ts(dt):
        return F.timestamp_micros(
            F.lit((dt - datetime(1970, 1, 1)) // timedelta(microseconds=1))
        )

    if start is not None:
        out = out.where(F.col(ts_col) >= _ts(start))
    if end is not None:
        out = out.where(F.col(ts_col) < _ts(end))
    return out


# Upper bound for the small-scan parallelism normalizer: scans whose total
# file bytes exceed this are left alone (they already split into enough
# tasks; an extra exchange would shuffle real data volume for nothing).
SMALL_SCAN_BYTES = 256 * 1024 * 1024


def parallelize_small_scan(
    spark: SparkSession, df: DataFrame, path: str, key: str
) -> DataFrame:
    """Restore task parallelism for tiny single-split files feeding
    CPU-amplifying operators (shingle explode × 64 minhash aggregates,
    per-token simhash sums, …).

    A parquet file with one row group is one scan task no matter how many
    cores the cluster has, so a map-side-heavy stage downstream runs
    serially — a pure small-input artifact (at production scale the scan
    has thousands of row groups and this helper is a no-op via the byte
    gate). When the file(s) under ``path`` total < ``SMALL_SCAN_BYTES``,
    hash-repartition on ``key`` to the default parallelism: the exchange
    moves only the tiny input once, and every downstream map stage runs
    wide. Hash (not round-robin) partitioning keeps the exchange
    deterministic without the local sort round-robin needs.
    """
    total = 0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    elif os.path.exists(path):
        total = os.path.getsize(path)
    else:
        return df
    if total >= SMALL_SCAN_BYTES:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))


class Catalog:
    """Lazy per-table accessor: ``Catalog(spark, sf_dir).orders`` etc."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def parallel_table(self, name: str, key: str) -> DataFrame:
        """:func:`parallelize_small_scan` wrapper — use for tables feeding
        CPU-amplifying operators (dedup signature passes); plain
        ``table()`` everywhere else so map-only queries stay exchange-free."""
        return parallelize_small_scan(
            self._spark,
            self.table(name),
            os.path.join(self._sf_dir, f"{name}.parquet"),
            key,
        )

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)
