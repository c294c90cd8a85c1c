"""Incremental mart maintenance — partition-granular materialized-view
refresh.

The reference recomputes both marts from the FULL lake every run
(`load_sales_mart.py:26-35,:60-70` scan the whole ``sales_history``
table). That is O(corpus) per run; at 100 TB a 15-minute cadence cannot
re-aggregate everything. This module maintains the marts in two levels:

1. a PARTIAL table per mart, partitioned by ``year_month``, holding the
   per-partition aggregate contribution:
     - sales_agg: (year_month, country, product, size, color,
       sales_count, paid_amount) — count/sum are decomposable, so the
       partials re-aggregate exactly;
     - client_count: COUNT(DISTINCT client) is NOT decomposable into
       per-partition counts, so its partial is the distinct
       (year_month, country, gender, client_id) TUPLES — distinct-ness
       re-aggregates exactly (set union), and the partial's size is
       bounded by distinct clients per partition, not rows.
2. a final aggregate over the partial table — O(groups × partitions),
   megabytes where the lake is terabytes.

``refresh(changed)`` recomputes only the partials of partitions the CDC
loader just rebuilt (partition-pruned read-backs of the lake) and
replaces those year_months in each partial with one ``apply_rebuild``,
which also drops partials of partitions that vanished (delete-to-empty,
same contract as ``plans.incremental``). It returns the lake's
COUNT(id)/SUM(paid) over every row of those partitions, observed on the
same read-back: the scheduled cycle (``pipelines.sales_pipeline_cycle``
with partials) calls it in pipeline 1's validation step and hands the
totals to ``plans.reconcile``, so validating needs no lake scan of its
own; a caller that does not validate ignores them. Refresh cost
is ∝ change set; the full-scan path remains available as the
bootstrap / repair / validation twin (``pipelines.mart_*_df``).
"""

from __future__ import annotations

from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.expressions import decode_map
from ..operators.relational import reconcile_aggs, reconcile_cols
from ..sources.lake import LakeTable
from ..sources.lake_snapshot import one_file_per_partition

SALES_AGG_PARTIAL = StructType(
    [
        StructField("country", StringType()),
        StructField("product", StringType()),
        StructField("size", StringType()),
        StructField("color", StringType()),
        StructField("sales_count", LongType()),
        # sum(DECIMAL(18,2)) widens to DECIMAL(28,2); money stays exact,
        # so partial-then-final summation is bit-equal to the full scan
        StructField("paid_amount", DecimalType(28, 2)),
        StructField("year_month", IntegerType()),
    ]
)

CLIENT_PAIRS_PARTIAL = StructType(
    [
        StructField("country", StringType()),
        StructField("gender", StringType()),
        StructField("client_id", LongType()),
        StructField("year_month", IntegerType()),
    ]
)

class IncrementalMart:
    """Maintains both mart partial tables under ``root`` and serves the
    final mart aggregates from them."""

    def __init__(self, spark: SparkSession, lake: LakeTable, root: str):
        self.spark = spark
        self.lake = lake
        self.sales_partial = LakeTable(
            spark,
            f"{root}/sales_agg_partial",
            partition_cols=("year_month",),
            schema=SALES_AGG_PARTIAL,
        )
        self.client_partial = LakeTable(
            spark,
            f"{root}/client_pairs_partial",
            partition_cols=("year_month",),
            schema=CLIENT_PAIRS_PARTIAL,
        )

    # -- partial maintenance ----------------------------------------------

    def refresh(self, changed: list[int]) -> tuple:
        """Recompute the partials of ``changed`` year_months only, and
        return the lake's ``(COUNT(id), SUM(paid))`` over every row of
        them — the lake half of :func:`~.reconcile.reconcile`, which the
        scheduled cycle's validation step (``pipelines.run_pipeline_1``
        with ``partials``) compares against the source.

        Both partial writes scan the rebuilt partitions from the lake's
        files (partition-pruned; after the lake's own write the scan
        needs no schema-inference job), and the totals are observed
        (``DataFrame.observe``) on the sales-partial write's scan, so
        they cost neither a job nor a scan of their own; with
        ``reconcile`` taking them, a cycle reads the rebuilt partitions
        twice instead of three times. Each write is two Spark jobs, one
        shuffle and the write, so the refresh is four: each write hashes
        its paid rows once by ``year_month`` (see :meth:`_partials`),
        which is already the clustering its aggregate and the partial's
        own write need. The price is that the changed partitions' raw
        paid rows cross that shuffle, not partially aggregated ones.
        (Persisting one read-back for both writes has not been measured
        with this plan; with two shuffles per write it was no faster and
        used more memory.) An observation is reported only if the plan
        that carries it ran to the end: when no changed row is paid, AQE
        swaps the empty write for an empty relation and
        ``Observation.get`` fails or can block for good. So the
        observation is read only when the sales partial received rows;
        otherwise the totals come from an aggregate over the same
        partitions.

        Idempotent (C4): each partial's changed year_months are
        replaced whole by a pure function of the lake's current content,
        so replays converge. A year_month with no surviving paid rows
        has no fresh rows and is dropped by the same ``apply_rebuild``.
        """
        if not changed:
            return 0, 0
        scan = self.lake.read().where(F.col("year_month").isin(changed))
        totals = Observation()
        sales, pairs = self._partials(scan, totals)
        self.sales_partial.apply_rebuild(sales, changed_year_months=changed)
        self.client_partial.apply_rebuild(pairs, changed_year_months=changed)
        if self.sales_partial.partition_file_stats(
            only_under=[f"year_month={v}" for v in changed]
        ):
            got = totals.get
            return got["sale_count"], got["paid_sum"]
        return tuple(reconcile_aggs(scan, "id", "paid").first())

    @staticmethod
    def _partials(scan: DataFrame, totals: Observation) -> tuple:
        """The (sales, pairs) partial frames of the lake rows ``scan``,
        ``totals`` observed on the sales frame's scan. Each hashes its
        paid rows by ``year_month`` with :func:`one_file_per_partition`,
        the partitioning the partial's write asks for too, so the
        aggregate and the write reuse that one shuffle (Spark drops the
        write's repartition as redundant)."""
        def paid(df: DataFrame) -> DataFrame:
            return one_file_per_partition(df, ("year_month",)).where(F.col("paid") > 0)

        sales = (
            paid(scan.observe(totals, *reconcile_cols("id", "paid")))
            .groupBy("year_month", "country", "product", "size", "color")
            .agg(
                F.count("id").alias("sales_count"),
                F.sum("paid").alias("paid_amount"),
            )
            .select([f.name for f in SALES_AGG_PARTIAL.fields])
        )
        pairs = (
            paid(scan)
            .select("country", "gender", "client_id", "year_month")
            .distinct()
        )
        return sales, pairs

    # -- final marts (small aggregates over partials) ---------------------

    def client_count(self, refresh: datetime) -> DataFrame:
        """Mart query 1 from partials: distinct pairs union exactly, so
        COUNT(DISTINCT) over the partial tuples equals the full-lake
        answer (gender decoded, refresh stamped — A2+F2+F3 parity with
        ``pipelines.mart_client_count_df``). Hashing the tuples by
        (country, gender) first lets the distinct and the count share
        that one shuffle."""
        return (
            self.client_partial.read()
            .select("country", "gender", "client_id")
            .repartition("country", "gender")
            .distinct()
            .groupBy("country", "gender")
            .agg(F.count(F.lit(1)).alias("client_count"))
            .select(
                "country",
                decode_map("gender", {"M": "Male", "F": "Female"}, "Other").alias(
                    "gender"
                ),
                "client_count",
                F.lit(refresh).alias("refresh_date"),
            )
        )

    def sales_agg(self, refresh: datetime) -> DataFrame:
        """Mart query 2 from partials: SUM of per-partition counts/sums
        (decomposable aggregates re-aggregate exactly)."""
        return (
            self.sales_partial.read()
            .groupBy("country", "product", "size", "color")
            .agg(
                F.sum("sales_count").alias("sales_count"),
                # re-sum widens 28,2 → 38,2; cast back so the schema is
                # identical to the full-scan mart (values already exact)
                F.sum("paid_amount").cast(DecimalType(28, 2)).alias("paid_amount"),
            )
            .withColumn("refresh_date", F.lit(refresh))
        )
