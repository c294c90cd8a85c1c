"""Multi-format ingest/egress: CSV, JSON-lines, ORC (parquet lives in
``lake.py``; JDBC in ``jdbc.py``).

Design rules for a 100 TB lake boundary:

- **Explicit schema always.** ``inferSchema``/schema-inference scans the
  data twice and yields environment-dependent types; every reader here
  REQUIRES a StructType so the scan is single-pass and the lake contract
  is stable. (Columnar ORC carries its own schema; the provided one is
  enforced by projection+cast.)
- **Quarantine, don't crash.** Text formats meet malformed rows at
  scale. Text readers parse via ``from_csv``/``from_json`` EXPRESSIONS
  over a ``spark.read.text`` scan rather than the raw-file CSV/JSON
  readers: expression-level parsing sidesteps Spark's
  QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction (raw-file scans refuse
  any query whose filter touches only the corrupt column, making the
  quarantine side unqueryable without caching the whole input), while
  keeping the parse inside whole-stage codegen. ``split_corrupt`` forks
  one scan into (clean, quarantine) so a poison row never kills a
  10-hour ingest and is never silently dropped either.
- **Text formats are an EXCHANGE boundary, not a storage tier.** CSV and
  JSON parse row-at-a-time JVM-side (no vectorized reader, no pushdown,
  no row-group skipping) and should be converted to parquet/ORC on
  arrival; the writers exist mostly for export surfaces.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def _ddl(schema: StructType, with_corrupt: bool = True) -> str:
    fields = [f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields]
    if with_corrupt and CORRUPT_COL not in schema.fieldNames():
        fields.append(f"`{CORRUPT_COL}` string")
    return ", ".join(fields)


def _parse_text(
    lines: DataFrame, parsed: F.Column, schema: StructType
) -> DataFrame:
    """Project a parsed struct back to top-level columns + corrupt col.

    ``from_csv``/``from_json`` in PERMISSIVE mode fill the declared
    corrupt field with the raw line on parse failure; rows where the
    whole struct is null (from_json on non-object text) are remapped to
    corrupt too, so nothing is silently dropped.
    """
    out = lines.select(F.col("value").alias("__raw"), parsed.alias("__p"))
    cols = [F.col(f"__p.{f.name}").alias(f.name) for f in schema.fields]
    corrupt = F.when(
        F.col("__p").isNull(), F.col("__raw")
    ).otherwise(F.col(f"__p.{CORRUPT_COL}"))
    return out.select(*cols, corrupt.alias(CORRUPT_COL))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """Schema-enforced CSV scan, malformed rows captured not fatal.

    Scale: CSV splits on newlines, so a directory of .csv files
    parallelizes per-file/per-split like any text source; but there is
    no predicate pushdown or column skipping — filters apply post-parse.
    Convert to parquet at the lake boundary.
    """
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL,
            "sep": delimiter}
    if timestamp_format:
        opts["timestampFormat"] = timestamp_format
    lines = spark.read.text(path)
    if header:
        # Header lines (one per input file) would otherwise parse as
        # corrupt rows. Match them structurally, not as one exact string:
        # split on the delimiter, strip whitespace and surrounding quotes
        # per field, compare case-insensitively against the schema's field
        # names in order. This recognizes the common export variants
        # (quoted headers, padded fields, case drift) that an exact-literal
        # compare would leak into quarantine. A DATA row whose every field
        # equals the corresponding column name is indistinguishable from a
        # header by construction and is dropped — the documented contract
        # (no CSV dialect can distinguish them without file offsets).
        delim_re = "".join(
            f"\\{c}" if c in r".\^$*+?()[]{}|" else c for c in delimiter
        )
        norm = F.expr(
            f"transform(split(value, '{delim_re}'),"
            " x -> lower(regexp_replace(trim(x), '^\"|\"$', '')))"
        )
        header_arr = F.array(*[F.lit(f.name.lower()) for f in schema.fields])
        lines = lines.where(norm != header_arr)
    parsed = F.from_csv(F.col("value"), _ddl(schema), opts)
    return _parse_text(lines, parsed, schema)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced JSON-lines scan (one object per line — the only
    JSON layout that splits for parallel scanning; ``multiLine`` JSON is
    one task per FILE and is deliberately not exposed here)."""
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    lines = spark.read.text(path)
    parsed = F.from_json(F.col("value"), _ddl(schema), opts)
    return _parse_text(lines, parsed, schema)


def read_orc(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """ORC scan normalized to the given schema (projection + cast).

    ORC is columnar with min/max stripe statistics: predicate pushdown
    and column pruning work like parquet's, so it is a valid storage
    tier, not just an exchange format.
    """
    df = spark.read.orc(path)
    return df.select(
        *[df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fork a quarantine-capable frame into (clean, quarantine).

    Clean rows drop the corrupt column; quarantine keeps the raw line for
    forensics/replay. Both are lazy views over ONE scan.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    return clean, bad


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
