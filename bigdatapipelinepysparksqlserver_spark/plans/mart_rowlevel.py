"""Row-level (CDF-fed) incremental mart maintenance (VERDICT r10 #5).

:mod:`.mart_incremental` re-aggregates WHOLE changed partitions — the
right cost model when a rebuild rewrites most of a partition, but when
one hot month holds 90k rows and a cycle changes 2k, the partition
recompute reads 45× the change. This module maintains the same two
marts (reference ``load_sales_mart.py:26-35,:60-70``) from the
row-level change feed instead, with SIGNED arithmetic, so refresh cost
tracks diff ROWS:

- the change feed comes from
  :meth:`~..sources.lake_snapshot.SnapshotLakeTable.changes_between`
  (the writer-RECORDED CDF — cost ∝ diff rows at any partition size),
  falling back to ``snapshot_diff_rows`` (recomputed by scanning
  changed partitions) when a publish recorded no CDF;
- the sales partial keeps (sales_count, paid_cents) per group — both
  signed-decomposable LONGS; an update (delete+insert) cancels
  exactly. Money is folded as integer CENTS (paid is DECIMAL(18,2),
  so ×100 per row is exact), making the incremental partials
  BIT-EQUAL to a full recompute after any insert/update/delete
  history — no float re-association drift, ever;
- the client partial keeps the classic incremental-view-maintenance
  MULTIPLICITY: each distinct (year_month, country, gender, client)
  tuple carries the count ``n`` of contributing paid rows. A tuple
  leaves the distinct set only when its LAST contributing row is
  deleted — plain distinct-tuple partials cannot express deletes.

Consistency protocol: the partials live in their own
:class:`SnapshotLakeTable`s (atomic multi-partition swaps), and a
``_APPLIED`` marker records (lake snapshot id, both partials' snapshot
ids) — written only after both publishes land. ``refresh_to`` refuses
to run over a TORN state (a crash between the two publishes leaves the
marker's recorded ids behind the tables' live ids) and directs the
caller to :meth:`repair`, which rebuilds the partials from the current
lake snapshot — correctness is never negotiated for the fast path.
Run under the single-flight ledger (C5) like every other publisher.

Scale: a refresh reads the diff rows, the touched partitions of the
PARTIAL tables (megabytes where the lake is terabytes), and writes
back only those partitions. Nothing scales with the lake.
"""

from __future__ import annotations

import json
from datetime import datetime
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.expressions import decode_map
from ..sources.lake_snapshot import CdfGapError, SnapshotLakeTable

SALES_CENTS_PARTIAL = StructType(
    [
        StructField("country", StringType()),
        StructField("product", StringType()),
        StructField("size", StringType()),
        StructField("color", StringType()),
        StructField("sales_count", LongType()),
        StructField("paid_cents", LongType()),
        StructField("year_month", IntegerType()),
    ]
)

CLIENT_COUNTED_PARTIAL = StructType(
    [
        StructField("country", StringType()),
        StructField("gender", StringType()),
        StructField("client_id", LongType()),
        StructField("n", LongType()),
        StructField("year_month", IntegerType()),
    ]
)

_SALES_KEYS = ("year_month", "country", "product", "size", "color")
_CLIENT_KEYS = ("year_month", "country", "gender", "client_id")


def _cents() -> F.Column:
    # paid is DECIMAL(18,2) (schemas.MONEY): ×100 is an exact integer
    # per row, and LONG sums are associative — the partial is bit-equal
    # to a full recompute regardless of fold order or history
    return (F.col("paid").cast("decimal(18,2)") * 100).cast("long")


class RowLevelMart:
    """CDF-fed mart partials over a :class:`SnapshotLakeTable`."""

    MARKER = "_APPLIED"

    def __init__(self, spark: SparkSession, lake: SnapshotLakeTable, root: str):
        self.spark = spark
        self.lake = lake
        self.root = root
        self.fs = lake.fs
        self.sales_partial = SnapshotLakeTable(
            spark,
            f"{root}/sales_cents_partial",
            partition_cols=("year_month",),
            schema=SALES_CENTS_PARTIAL,
            fs=self.fs,
        )
        self.client_partial = SnapshotLakeTable(
            spark,
            f"{root}/client_counted_partial",
            partition_cols=("year_month",),
            schema=CLIENT_COUNTED_PARTIAL,
            fs=self.fs,
        )

    # -- applied-state marker ------------------------------------------------

    def _marker_path(self) -> str:
        return f"{self.root}/{self.MARKER}"

    def applied_state(self) -> dict | None:
        raw = self.fs.read_pointer(self._marker_path())
        return None if not raw else json.loads(raw)

    def _write_marker(self, mid: int) -> None:
        self.fs.set_pointer(
            self._marker_path(),
            json.dumps(
                {
                    "mid": mid,
                    "sales_v": self.sales_partial.current_id(),
                    "client_v": self.client_partial.current_id(),
                }
            ),
        )

    def _check_not_torn(self, st: dict) -> None:
        live = (
            self.sales_partial.current_id(),
            self.client_partial.current_id(),
        )
        if live != (st["sales_v"], st["client_v"]):
            raise RuntimeError(
                f"row-level mart {self.root} is TORN: marker records "
                f"partial snapshots {(st['sales_v'], st['client_v'])} but "
                f"the live partials are {live} — a refresh crashed between "
                "its publishes. Run repair() (partition-grain rebuild from "
                "the current lake snapshot) before refreshing."
            )

    # -- builds ---------------------------------------------------------------

    def _partials_from(self, rows: DataFrame) -> tuple[DataFrame, DataFrame]:
        paid = rows.where(F.col("paid") > 0)
        sales = (
            paid.groupBy(*_SALES_KEYS)
            .agg(
                F.count(F.lit(1)).alias("sales_count"),
                F.sum(_cents()).alias("paid_cents"),
            )
            .select([f.name for f in SALES_CENTS_PARTIAL.fields])
        )
        client = (
            paid.groupBy(*_CLIENT_KEYS)
            .agg(F.count(F.lit(1)).alias("n"))
            .select([f.name for f in CLIENT_COUNTED_PARTIAL.fields])
        )
        return sales, client

    def bootstrap(self) -> int:
        """Full build of both partials from the CURRENT lake snapshot;
        records the applied snapshot id. Also the :meth:`repair` body."""
        mid = self.lake.current_id()
        if mid is None:
            raise FileNotFoundError(f"lake {self.lake.root} has no snapshot")
        sales, client = self._partials_from(self.lake.read_snapshot(mid))
        self.sales_partial.write_full(sales)
        self.client_partial.write_full(client)
        self._write_marker(mid)
        return mid

    def repair(self) -> int:
        """Recover from a torn refresh: rebuild from the live lake
        snapshot (partition-grain cost, correctness first)."""
        return self.bootstrap()

    # -- the row-level refresh -------------------------------------------------

    def _fold(
        self,
        partial: SnapshotLakeTable,
        delta: DataFrame,
        keys: tuple[str, ...],
        counters: tuple[str, ...],
        touched: list[int],
    ) -> None:
        """new partial rows for ``touched`` year_months = old partial
        ⟗ delta with per-counter signed addition; groups whose count
        falls to 0 drop out; partitions with no surviving groups drop
        from the partial's manifest in the same publish."""
        old = partial.read().where(F.col("year_month").isin(touched))
        o, d = old.alias("o"), delta.alias("d")
        cond = reduce(
            lambda a, b: a & b,
            [o[k].eqNullSafe(d[k]) for k in keys],
        )
        merged = o.join(d, cond, "full_outer").select(
            *[F.coalesce(o[k], d[k]).alias(k) for k in keys],
            *[
                (
                    F.coalesce(o[c], F.lit(0)) + F.coalesce(d[f"d_{c}"], F.lit(0))
                ).alias(c)
                for c in counters
            ],
        )
        fresh = merged.where(F.col(counters[0]) > 0).select(
            [f.name for f in partial.schema.fields]
        )
        partial.apply_rebuild(fresh, changed_year_months=touched)

    def refresh_to(self, to_mid: int | None = None) -> list[int]:
        """Fold the change feed from the applied snapshot up to
        ``to_mid`` (default: the live snapshot) into both partials.
        Returns the touched year_months. Prefers the writer-recorded
        CDF; falls back to the recomputed row diff on a CDF gap."""
        st = self.applied_state()
        if st is None:
            raise FileNotFoundError(
                f"row-level mart {self.root} not bootstrapped — call "
                "bootstrap() once against the initial lake snapshot"
            )
        self._check_not_torn(st)
        to_mid = to_mid if to_mid is not None else self.lake.current_id()
        frm = st["mid"]
        if to_mid == frm:
            return []
        try:
            diff = self.lake.changes_between(frm, to_mid)
        except CdfGapError:
            try:
                diff = self.lake.snapshot_diff_rows(frm, to_mid)
            except FileNotFoundError as e:
                # the applied-from snapshot aged past the lake's retain
                # window (too many un-refreshed publishes): neither the
                # CDF chain nor the scan diff can reach it any more
                raise RuntimeError(
                    f"row-level mart {self.root} fell behind the lake's "
                    f"retain window (applied m{frm} is gone: {e}). Run "
                    "repair() — a partition-grain rebuild from the "
                    "current snapshot — or widen the lake's retain= / "
                    "refresh more often."
                ) from e
        diff = diff.where(F.col("paid") > 0).persist()
        try:
            touched = sorted(
                r.year_month
                for r in diff.select("year_month").distinct().collect()
            )
            if not touched:
                self._write_marker(to_mid)
                return []
            sign = F.when(F.col("change") == "insert", F.lit(1)).otherwise(
                F.lit(-1)
            )
            sdelta = diff.groupBy(*_SALES_KEYS).agg(
                F.sum(sign).alias("d_sales_count"),
                F.sum(sign * _cents()).alias("d_paid_cents"),
            )
            cdelta = diff.groupBy(*_CLIENT_KEYS).agg(F.sum(sign).alias("d_n"))
            self._fold(
                self.sales_partial,
                sdelta,
                _SALES_KEYS,
                ("sales_count", "paid_cents"),
                touched,
            )
            self._fold(
                self.client_partial, cdelta, _CLIENT_KEYS, ("n",), touched
            )
            self._write_marker(to_mid)
            return touched
        finally:
            diff.unpersist()

    # -- final marts (small aggregates over partials) --------------------------

    def sales_agg(self, refresh: datetime) -> DataFrame:
        """Mart query 2 from partials — schema-identical to
        ``pipelines.mart_sales_agg_df`` (paid_amount back in
        DECIMAL(28,2); the /100 is a decimal shift, exact)."""
        return (
            self.sales_partial.read()
            .groupBy("country", "product", "size", "color")
            .agg(
                F.sum("sales_count").alias("sales_count"),
                (F.sum("paid_cents").cast("decimal(38,2)") / 100)
                .cast("decimal(28,2)")
                .alias("paid_amount"),
            )
            .withColumn("refresh_date", F.lit(refresh))
        )

    def client_count(self, refresh: datetime) -> DataFrame:
        """Mart query 1 from partials: tuples with multiplicity > 0 ARE
        the distinct set; count distinct clients across partitions."""
        return (
            self.client_partial.read()
            .where(F.col("n") > 0)
            .select("country", "gender", "client_id")
            .distinct()
            .groupBy("country", "gender")
            .agg(F.count(F.lit(1)).alias("client_count"))
            .select(
                "country",
                decode_map(
                    "gender", {"M": "Male", "F": "Female"}, "Other"
                ).alias("gender"),
                "client_count",
                F.lit(refresh).alias("refresh_date"),
            )
        )
