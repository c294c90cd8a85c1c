"""Seeded synthetic OLTP workload generator (reference
`data_generation/data_generation.py:24-152`) — drives CDC round-trip
tests with inserts, updates (F8: paid *= 0.95) and tombstoned deletes
(M7), using the reference's distributions (F9):

- new-vs-existing client: p = 0.35 / 0.65    (data_generation.py:47)
- gender M/F:             p = 0.40 / 0.60    (:68)
- zero-price promo sale:  p = 0.01           (:57-59)
- update a sale:          p = 0.01           (:131)
- delete a sale:          p = 0.001          (:106)
- country: uniform over the 27 EU states     (:31-34)

Spark-first determinism: every "random" draw is a pure hash expression
``u(tag, id) = pmod(xxhash64(seed, tag, id), 10^9) / 10^9`` — fully
distributed, identical on any partitioning/executor count, and
reproducible from (seed, batch) alone. The reference's row-at-a-time
``np.random.choice`` loop becomes set-based column expressions.

Storage: the "OLTP source" is a set of parquet dirs mutated by
read-modify-overwrite — at test cardinality that is exact and cheap; a
real deployment would point the same expressions at a JDBC source
(sources.jdbc) and let the DB apply the DML.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .functions.expressions import year_month
from .schemas import CLIENTS, MONEY, PRODUCTS, REMOVED, SALES

EU_COUNTRIES = [
    "Austria", "Belgium", "Bulgaria", "Croatia", "Cyprus", "Czechia",
    "Denmark", "Estonia", "Finland", "France", "Germany", "Greece",
    "Hungary", "Ireland", "Italy", "Latvia", "Lithuania", "Luxembourg",
    "Malta", "Netherlands", "Poland", "Portugal", "Romania", "Slovakia",
    "Slovenia", "Spain", "Sweden",
]

PRODUCT_NAMES = ["tshirt", "hoodie", "jacket", "jeans", "sneakers", "cap"]
SIZES = ["XS", "S", "M", "L", "XL"]
COLORS = ["black", "white", "red", "blue", "green"]


def _u(seed: int, tag: int, key: Column) -> Column:
    """Deterministic uniform in [0, 1) from (seed, tag, key)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), key), F.lit(1_000_000_000)) / F.lit(
        1_000_000_000.0
    )


def _pick(seed: int, tag: int, key: Column, values: list[str]) -> Column:
    """Deterministic uniform categorical pick."""
    arr = F.array(*[F.lit(v) for v in values])
    idx = F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), key), F.lit(len(values)))
    return F.element_at(arr, (idx + 1).cast("int"))


def _overwrite(df: DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


class SourceTables:
    """The OLTP-source quartet as parquet paths."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.paths = {
            n: os.path.join(root, n) for n in ("sales", "clients", "products", "removed")
        }
        self.schemas = {
            "sales": SALES, "clients": CLIENTS, "products": PRODUCTS, "removed": REMOVED
        }

    def read(self, name: str) -> DataFrame:
        p = self.paths[name]
        if not os.path.isdir(p):
            return self.spark.createDataFrame([], self.schemas[name])
        return self.spark.read.schema(self.schemas[name]).parquet(p)

    def write(self, name: str, df: DataFrame) -> None:
        _overwrite(df.select([f.name for f in self.schemas[name].fields]), self.paths[name])

    def append(self, name: str, df: DataFrame) -> None:
        cur = self.read(name)
        self.write(name, cur.unionByName(df.select(cur.columns)))


class WorkloadGenerator:
    def __init__(self, src: SourceTables, seed: int = 42):
        self.src = src
        self.seed = seed

    def seed_dimensions(self, n_clients: int = 50, n_products: int = 20) -> None:
        """Initial Clients/Products catalogs (deterministic)."""
        spark = self.src.spark
        cid = F.col("id")
        clients = spark.range(1, n_clients + 1).select(
            cid.alias("id"),
            F.when(_u(self.seed, 1, cid) < 0.4, "M").otherwise("F").alias("gender"),
            _pick(self.seed, 2, cid, EU_COUNTRIES).alias("country"),
        )
        pid = F.col("id")
        products = spark.range(1, n_products + 1).select(
            pid.alias("id"),
            _pick(self.seed, 3, pid, PRODUCT_NAMES).alias("product"),
            _pick(self.seed, 4, pid, SIZES).alias("size"),
            _pick(self.seed, 5, pid, COLORS).alias("color"),
            (F.round(_u(self.seed, 6, pid) * 90 + 10, 2)).cast(MONEY).alias("price"),
        )
        self.src.write("clients", clients)
        self.src.write("products", products)

    def insert_sales(
        self,
        n: int,
        batch: int,
        now: datetime,
        spread_days: int = 60,
    ) -> None:
        """Insert ``n`` sales (data_generation.py:41-103 semantics).

        35% of sales mint a NEW client (appended to Clients first, capturing
        the reference's INSERT-with-OUTPUT id round-trip, :61-66); price
        comes from the product catalog; p=0.01 sales are 0-price promos.
        """
        spark = self.src.spark
        seed, s = self.seed, batch * 1000
        max_sale = self.src.read("sales").agg(F.coalesce(F.max("id"), F.lit(0))).first()[0]
        max_client = self.src.read("clients").agg(F.coalesce(F.max("id"), F.lit(0))).first()[0]
        n_products = self.src.read("products").count()

        base = spark.range(1, n + 1).select(F.col("id").alias("k"))
        k = F.col("k")
        is_new_client = _u(seed, s + 10, k) < 0.35
        # new clients get ids max_client + rank-among-new (dense,
        # deterministic). The prefix rank is computed DISTRIBUTED: a
        # partition-less Window.orderBy would funnel the whole batch
        # through one task, so instead each 4096-row block ranks locally
        # (window partitioned by block) and block offsets — a
        # control-plane-sized aggregate, like the max-id lookups above —
        # are prefix-summed on the driver and broadcast back.
        block = F.floor((k - F.lit(1)) / F.lit(4096)).cast("long")
        flagged = base.select(
            k, is_new_client.alias("is_new"), block.alias("blk")
        )
        per_blk = {
            r["blk"]: r["c"]
            for r in flagged.groupBy("blk")
            .agg(F.sum(F.col("is_new").cast("int")).alias("c"))
            .collect()
        }
        offs, acc = [], 0
        for b in sorted(per_blk):
            offs.append((b, acc))
            acc += per_blk[b]
        off_df = spark.createDataFrame(offs or [(0, 0)], "blk long, off long")
        w_blk = Window.partitionBy("blk").orderBy("k")
        new_rank = F.col("off") + F.sum(F.col("is_new").cast("int")).over(w_blk)
        rows = flagged.join(F.broadcast(off_df), "blk").select(
            k,
            (F.lit(max_sale) + k).alias("sale_id"),
            F.col("is_new"),
            new_rank.alias("new_rank"),
            (F.pmod(F.xxhash64(F.lit(seed), F.lit(s + 11), k), F.lit(max(max_client, 1))) + 1)
            .alias("existing_client"),
            (F.pmod(F.xxhash64(F.lit(seed), F.lit(s + 12), k), F.lit(n_products)) + 1)
            .alias("product_id"),
            (_u(seed, s + 13, k) < 0.01).alias("is_promo"),
            (_u(seed, s + 14, k) * spread_days).alias("age_days"),
        )

        new_clients = rows.where("is_new").select(
            (F.lit(max_client) + F.col("new_rank")).alias("id"),
            F.when(_u(seed, s + 15, k) < 0.4, "M").otherwise("F").alias("gender"),
            _pick(seed, s + 16, k, EU_COUNTRIES).alias("country"),
        )
        self.src.append("clients", new_clients)

        # unix_micros(lit(ts)) keeps the naive-datetime→session-tz conversion
        # inside Spark, consistent with every other F.lit(timestamp) here.
        sale_ts = F.timestamp_micros(
            F.unix_micros(F.lit(now))
            - (F.col("age_days") * F.lit(86_400_000_000.0)).cast("long")
        )
        prices = self.src.read("products").select(
            F.col("id").alias("product_id"), "price"
        )
        sales = (
            rows.join(prices, "product_id")
            .select(
                F.col("sale_id").alias("id"),
                sale_ts.alias("sale_date"),
                F.when(F.col("is_promo"), F.lit(0).cast(MONEY))
                .otherwise(F.col("price")).alias("paid"),
                F.when(F.col("is_new"), F.lit(max_client) + F.col("new_rank"))
                .otherwise(F.col("existing_client")).alias("client_id"),
                F.col("product_id"),
                F.lit(None).cast("timestamp").alias("updated_date"),
            )
            .withColumn("year_month", year_month("sale_date"))
        )
        self.src.append("sales", sales)

    def update_sales(self, batch: int, now: datetime, p: float = 0.01) -> int:
        """F8/M2 — partial refund: paid *= 0.95, stamp updated_date
        (data_generation.py:131-150). Returns #updated."""
        sales = self.src.read("sales")
        hit = _u(self.seed, batch * 1000 + 20, F.col("id")) < p
        updated = sales.select(
            "id", "sale_date", "year_month",
            F.when(hit, (F.col("paid") * F.lit(0.95)).cast(MONEY))
            .otherwise(F.col("paid")).alias("paid"),
            "client_id", "product_id",
            F.when(hit, F.lit(now)).otherwise(F.col("updated_date")).alias("updated_date"),
        )
        n = updated.where(_u(self.seed, batch * 1000 + 20, F.col("id")) < p).count()
        self.src.write("sales", updated)
        return n

    def delete_sales(self, batch: int, now: datetime, p: float = 0.001) -> int:
        """M7/C3 — delete + tombstone to `removed`
        (data_generation.py:106-127). Returns #deleted."""
        sales = self.src.read("sales")
        hit = _u(self.seed, batch * 1000 + 30, F.col("id")) < p
        victims = sales.where(hit)
        tombstones = victims.select(
            F.lit("sales").alias("table"),
            "id",
            F.col("sale_date").alias("record_date"),
            "year_month",
            F.lit(now).alias("deleted_date"),
        )
        n = victims.count()
        self.src.append("removed", tombstones)
        self.src.write("sales", sales.where(~hit))
        return n
