"""Incremental CDC partition rebuild — the reference's signature
capability (`load_sales_history.py:70-177`), Spark-first.

Protocol per run, over the half-open window [previous_cutoff,
current_cutoff) — the boundary semantics that make CDC exactly-once
(P2; an event stamped exactly at a cutoff belongs to the NEXT run):

1. changed-partition list = UNION-dedup of three branches (U1, C2, C3):
   inserts  (sale_date   in window)
   updates  (updated_date in window)
   deletes  (tombstone deleted_date in window, from `removed`)
   (inserts and updates are one scan of `sales`), deduplicated by
   Spark and sorted on the driver
2. re-extract ONLY those partitions from the source, denormalized
   through the dim joins (J1)
3. replace those year_months in the lake with the extract in one
   ``apply_rebuild`` (M6) — rebuild naturally omits deleted rows
   (tombstones need no replay), and a partition the extract no longer
   produces is dropped by the same call

Known, intentional semantics (README.md:76 / SURVEY §7.5 risk 6):
a record BACKDATED to before previous_cutoff whose row was inserted
without touching updated_date is never picked up — the reference
accepts this and so do we (tests assert it rather than "fix" it).

Scale: the work list is a handful of partition keys (collect is safe);
extraction carries a partition-pruned predicate so both a parquet
source (PartitionFilters/PushedFilters) and a JDBC source (WHERE
pushdown) read only changed data. Rebuild cost ∝ change set, not table.
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.expressions import half_open_window
from ..operators.relational import changed_partitions, denormalize
from ..sources.lake import LakeTable


class IncrementalLoader:
    """Binds the source tables + lake and runs one incremental load."""

    def __init__(
        self,
        sales: DataFrame,
        clients: DataFrame,
        products: DataFrame,
        removed: DataFrame,
        lake: LakeTable,
    ):
        self.sales = sales
        self.clients = clients
        self.products = products
        self.removed = removed
        self.lake = lake

    # -- step 1: work list -------------------------------------------------

    def changed_partition_list(
        self, previous_cutoff: datetime | None, current_cutoff: datetime
    ) -> list[int]:
        """U1 3-branch changed-partition detection
        (load_sales_history.py:70-97), sorted on the driver. The insert
        and update branches read the same table, so they are one scan
        whose filter ORs their windows (a NULL ``updated_date`` is in no
        window): the same keys as their union, for one scan of ``sales``
        instead of two. First run (previous_cutoff None) returns every
        partition with data before current_cutoff."""
        in_window = lambda c: half_open_window(c, previous_cutoff, current_cutoff)  # noqa: E731
        upserts = self.sales.where(
            in_window(F.col("sale_date")) | in_window(F.col("updated_date"))
        )
        deletes = self.removed.where(
            (F.col("table") == "sales") & in_window(F.col("deleted_date"))
        )
        wl = changed_partitions([upserts, deletes], key="year_month")
        return sorted(r.year_month for r in wl.collect())

    # -- step 2: extract ---------------------------------------------------

    def extract_partitions(
        self, partitions: list[int], current_cutoff: datetime
    ) -> DataFrame:
        """P3+J1+P1 — partition-pruned denormalized extract
        (load_sales_history.py:110-116): rows of the changed partitions
        with sale_date < current_cutoff, joined to dims.

        One job for ALL changed partitions (the reference loops one
        partition at a time to bound driver memory — a distributed engine
        doesn't need the loop; dynamic overwrite still replaces each
        partition independently).
        """
        fact = self.sales.where(
            F.col("year_month").isin(partitions)
            & (F.col("sale_date") < F.lit(current_cutoff))
        )
        c = self.clients.select(
            F.col("id").alias("__cid"), "gender", "country"
        )
        p = self.products.select(
            F.col("id").alias("__pid"), "product", "size", "color"
        )
        wide = denormalize(
            fact,
            [(c, F.col("client_id") == F.col("__cid")),
             (p, F.col("product_id") == F.col("__pid"))],
        )
        return wide.select(
            "id", "sale_date", "paid", "client_id", "gender",
            "product_id", "product", "size", "color", "updated_date",
            "year_month", "country",
        )

    # -- step 3: rebuild ---------------------------------------------------

    def run(
        self, previous_cutoff: datetime | None, current_cutoff: datetime
    ) -> list[int]:
        """Full incremental load; returns the rebuilt partition list.

        Delete-to-empty: a changed partition whose rows were ALL deleted
        in this window produces no extract rows. ``apply_rebuild``
        replaces every changed year_month WHOLE, so such a partition is
        removed by the same write that rebuilds the rest — for both lake
        kinds, with no partition-listing job.
        """
        parts = self.changed_partition_list(previous_cutoff, current_cutoff)
        if not parts:
            return []
        extract = self.extract_partitions(parts, current_cutoff)
        self.lake.apply_rebuild(extract, changed_year_months=parts)
        return parts
