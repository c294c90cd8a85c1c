"""Two-sided reconciliation comparator (C6, `load_sales_history.py:189-252`).

The de-facto end-to-end test of every load: COUNT(id) and SUM(paid) over
the changed partitions computed INDEPENDENTLY on the source and on the
lake, compared for strict equality. Decimal sums make the comparison
exact and order-independent (double sums are neither — SURVEY §7.5
risk 1).

Empty change-set short-circuits to SUCCESSFUL (load_sales_history.py:
205-207).

The scheduled cycle with mart partials (``pipelines.run_pipeline_1(...,
partials=...)``) hands in ``lake_totals`` instead of aggregating the
lake here: :meth:`~.mart_incremental.IncrementalMart.refresh` observes
these totals on the lake scan that feeds its sales partial, so they are
still a read-back of the files as written, never the rebuild's own
numbers. The source half is always this module's independent
re-query, which is what catches late backdated rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.relational import reconcile_aggs

SUCCESSFUL = "SUCCESSFUL"
FAILED = "FAILED"


@dataclass
class ReconcileResult:
    status: str
    source_count: int
    source_sum: object
    lake_count: int
    lake_sum: object


def reconcile(
    source_sales: DataFrame,
    lake_df: DataFrame | None,
    partitions: list[int],
    current_cutoff: datetime,
    lake_totals: tuple | None = None,
) -> ReconcileResult:
    """Compare source vs lake COUNT/SUM over ``partitions``.

    Source side mirrors the T-SQL half (load_sales_history.py:213-218):
    year_month IN (...) AND sale_date < cutoff; lake side the SparkSQL
    half (:225-232). Both aggregates are single-row — collect is free.
    ``lake_totals`` — ``(count, sum)`` already read back from the lake's
    files over ``partitions`` — replaces the lake-side aggregate, and
    ``lake_df`` is then not read.
    """
    if not partitions:
        return ReconcileResult(SUCCESSFUL, 0, 0, 0, 0)

    src = source_sales.where(
        F.col("year_month").isin(partitions)
        & (F.col("sale_date") < F.lit(current_cutoff))
    )
    s = reconcile_aggs(src, "id", "paid").first()
    if lake_totals is None:
        lk = lake_df.where(F.col("year_month").isin(partitions))
        lake_totals = tuple(reconcile_aggs(lk, "id", "paid").first())
    lake_count, lake_sum = lake_totals

    ok = s.sale_count == lake_count and s.paid_sum == lake_sum
    return ReconcileResult(
        SUCCESSFUL if ok else FAILED,
        s.sale_count, s.paid_sum, lake_count, lake_sum,
    )
