"""Scalar expression library — the reference's F1-F7 surface as native
Catalyst expressions (zero Python UDFs; everything stays in whole-stage
codegen).

Reference parity:
- F1 null-default            -> ``null_default``           (load_sales_history.py:25,213,225)
- F2 conditional decode      -> ``decode_map``             (load_sales_mart.py:33-34)
- F4 NaT/string ts repair    -> native ``to_timestamp``; the reference's
  RDD-map UDF (load_sales_history.py:140-153) is unnecessary once data never
  round-trips through pandas.
- F6 cutoff truncate+lag     -> ``plans.ledger.default_cutoff`` (load_sales_history.py:33-36)
- F7 year_month derivation   -> ``year_month``             (data_generation.py:38)
- P2 half-open window        -> ``half_open_window``       (load_sales_history.py:76-94)
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import Column


def year_month(ts: Column | str) -> Column:
    """``year*100 + month`` partition key, e.g. 2024-01-15 -> 202401 (INT).

    Arithmetic form (not date_format+cast) keeps it a cheap codegen'd integer
    expression and — being monotone in the date — eligible for min/max-based
    parquet row-group skipping on the underlying date column.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.year(c) * F.lit(100) + F.month(c)).cast("int")


def year_month_day(ts: Column | str) -> Column:
    """Day-grain partition key ``yyyyMMdd`` as INT (finer CDC granularity)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.year(c) * F.lit(10000) + F.month(c) * F.lit(100) + F.dayofmonth(c)).cast("int")


def null_default(c: Column, default=0) -> Column:
    """``ISNULL(x, d)`` / ``IFNULL(x, d)`` — COALESCE with a literal."""
    return F.coalesce(c, F.lit(default))


def decode_map(c: Column | str, mapping: dict[str, str], default: str) -> Column:
    """CASE-chain decode, e.g. gender M->Male, F->Female, else Other."""
    c = F.col(c) if isinstance(c, str) else c
    expr: Column | None = None
    for k, v in mapping.items():
        expr = F.when(c == k, v) if expr is None else expr.when(c == k, v)
    assert expr is not None, "mapping must be non-empty"
    return expr.otherwise(default)


def half_open_window(ts: Column | str, start: datetime | None, end: datetime) -> Column:
    """CDC window predicate ``[start, end)``; ``start=None`` = full load.

    The half-open boundary is the reference's exact CDC-correctness contract
    (events stamped exactly at a cutoff are processed by the NEXT run, never
    twice, never zero times).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    upper = c < F.lit(end)
    if start is None:
        return upper
    return (c >= F.lit(start)) & upper


def dec(c: Column | str) -> Column:
    """Cast to DECIMAL(18,2) — the engine's money type end-to-end.

    Decimal aggregation is exact and order-independent, which is what makes
    two-engine reconciliation (and the driver's value-hash) deterministic;
    double sums are neither.
    """
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")

