"""Multimodal query surface over `documents` (payload = text bytes).

The metadata path (payload dedup audit, shard plan) is
SQL-expressible and oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import attach_binary_payload
from ..sources.catalog import Catalog
from .registry import query


# --------------------------------------------------------------------------
# media blob dedup audit — checksum-level exact dedup for binary payloads
# --------------------------------------------------------------------------

MEDIA_DEDUP_ORACLE = """
WITH h AS (
  SELECT md5(text) AS hh,
         COUNT(*) AS cnt,
         MAX(octet_length(CAST(text AS BLOB))) AS bytes
  FROM documents GROUP BY 1
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_media,
       COUNT(*) AS n_distinct_payloads,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
       CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
         AS dup_media,
       CAST(SUM((cnt - 1) * bytes) AS BIGINT) AS reclaimable_bytes
FROM h
"""


@query("media_dedup_audit", oracle=MEDIA_DEDUP_ORACLE)
def media_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-level exact-dedup audit of binary media payloads: how
    many blobs are byte-identical copies, and how many bytes a
    content-addressable layout would reclaim — the planning query run
    before deduplicating an image/audio store (the binary twin of the
    text `dedup_exact`).

    Scale: the scan emits (md5(payload), n_bytes) — the shuffle carries
    16-byte hashes + a long per blob, NEVER payload bytes; the hash
    groupBy collapses map-side, and the audit rolls up to ONE row.
    Payloads stay in the JVM end to end (no Python, no decode).
    """
    docs = Catalog(spark, sf_dir).documents
    media = attach_binary_payload(docs, id_col="doc_id", text_col="text")
    g = media.groupBy(F.md5("payload").alias("hh")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("meta.n_bytes").alias("bytes"),
    )
    return g.agg(
        F.sum("cnt").alias("n_media"),
        F.count(F.lit(1)).alias("n_distinct_payloads"),
        F.sum((F.col("cnt") > 1).cast("long")).alias("dup_groups"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0)
        ).alias("dup_media"),
        F.sum((F.col("cnt") - 1) * F.col("bytes")).alias(
            "reclaimable_bytes"
        ),
    )


# --------------------------------------------------------------------------
# Object-store shard packing: assign blobs to fixed-byte output files
# in a deterministic content-addressed order — the rebalancing pass a
# multimodal lake runs before writing a blob store (images/audio have
# 1000x size skew; row-count-balanced files are byte-skewed and byte-
# balanced files need exactly this prefix-sum plan). Same formulation
# as token sequence packing (operators/text.py pack_chunks): greedy
# boundary every `budget` bytes in (md5, id) order; a blob belongs to
# the file where its FIRST byte lands.
# --------------------------------------------------------------------------

MEDIA_SHARD_BUDGET_BYTES = 65536  # 64 KiB per planned blob file
MEDIA_SHARD_HEX = 1  # 16 shards; raise so shards >> executors at scale

MEDIA_SHARD_PLAN_ORACLE = f"""
WITH m AS (
  SELECT md5(text) AS h, doc_id AS media_id,
         octet_length(CAST(text AS BLOB)) AS n
  FROM documents
),
p AS (
  SELECT substr(h, 1, {MEDIA_SHARD_HEX}) AS shard, n,
         SUM(n) OVER (PARTITION BY substr(h, 1, {MEDIA_SHARD_HEX})
                      ORDER BY h, media_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM m
)
SELECT shard, CAST((cum - n) // {MEDIA_SHARD_BUDGET_BYTES} AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_blobs,
       CAST(SUM(n) AS BIGINT) AS file_bytes
FROM p
GROUP BY 1, 2
"""


@query("media_shard_plan", oracle=MEDIA_SHARD_PLAN_ORACLE)
def media_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget shard plan for the blob store: one row per planned
    output file with its blob count and byte total. Every file except
    each shard's last holds >= budget bytes from its first blob's
    offset — slack is at most one blob per boundary, the prefix-sum
    packing guarantee.

    Scale: the scan emits (md5, n_bytes) — payload bytes NEVER
    shuffle; one hash-partitioned window per shard (16^k shards; raise
    ``MEDIA_SHARD_HEX`` so shards >> executor count); the md5 order
    doubles as the shuffle that decorrelates blob size from arrival
    order, which is what makes greedy packing byte-balanced.
    """
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    media = attach_binary_payload(docs, id_col="doc_id", text_col="text")
    rows = media.select(
        F.md5("payload").alias("h"),
        "media_id",
        F.col("meta.n_bytes").alias("n"),
    )
    shard = F.substring("h", 1, MEDIA_SHARD_HEX)
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "media_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n").over(w)
    return (
        rows.withColumn("shard", shard)
        .withColumn("__cum", cum)
        .withColumn(
            "file_id",
            F.expr(f"(__cum - n) div {MEDIA_SHARD_BUDGET_BYTES}"),
        )
        .drop("__cum")
        .groupBy("shard", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blobs"),
            F.sum("n").cast("bigint").alias("file_bytes"),
        )
    )
