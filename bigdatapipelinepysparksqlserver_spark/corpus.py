"""End-to-end training-corpus build pipeline.

Composes the LLM-data-pipeline operators the same way ``pipelines.py``
composes the reference's ELT stages: one sequential driver function,
every transformation a Catalyst plan, no driver-side data.

    raw documents
      → quality gate (length + repetition, scan-side flags)
      → PII scrub (regex redaction, scan-side)
      → exact dedup (md5 group, min-id survivor)
      → mix sampling (per-language md5 gates)
      → chunk (token windows) → pack (fixed-budget sequences)
      → parquet corpus + per-stage funnel report

The doc-level funnel is computed in ONE pass (conditional aggregation
over stage flags);
the packed output is written with a single job. At 100 TB the only
shuffles are the dedup group-by (16-byte keys), the pack window (md5
shards), and the final partitioned write.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .operators.sampling import hash_gate
from .operators.text import EMAIL_REGEX, PHONE_REGEX, chunk_documents, pack_chunks

DEFAULT_MIX: dict[str, str] = {"en": "c0", "de": "c0", "fr": "c0", "es": "c0"}


def _quality_ok(text, min_words: int, min_dwr: float):
    t = F.trim(text)
    words = F.split(F.lower(t), " ")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(words))
    dwr = F.size(F.array_distinct(words)).cast("double") / F.size(words).cast(
        "double"
    )
    return (n_words >= min_words) & (dwr >= min_dwr)


def _scrubbed(text):
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_REGEX, "<EMAIL>"), PHONE_REGEX, "<PHONE>"
    )


def build_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    min_words: int = 20,
    min_distinct_word_ratio: float = 0.30,
    mix_thresholds: dict[str, str] | None = None,
    chunk_window: int = 32,
    chunk_stride: int = 16,
    pack_budget: int = 256,
) -> dict[str, int]:
    """Run the corpus build; write packed sequences to ``out_dir`` and
    return the per-stage funnel report.

    ``docs`` needs columns (doc_id, text, lang). Deterministic end to
    end: md5 gates for mixing, md5 layout for packing — re-running on the
    same input reproduces the same corpus bit-for-bit.
    """
    mix = DEFAULT_MIX if mix_thresholds is None else mix_thresholds

    flags = docs.select(
        "doc_id",
        "lang",
        _scrubbed(F.col("text")).alias("text"),
        _quality_ok(F.col("text"), min_words, min_distinct_word_ratio).alias(
            "q_ok"
        ),
    )

    kept = flags.where("q_ok")
    # exact dedup on scrubbed text: min-id survivor per md5 group. The
    # shuffle key is the 16-byte hash, never the document body.
    survivors = (
        kept.groupBy(F.md5(F.col("text").cast("binary")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = kept.join(survivors, "doc_id", "left_semi")

    mix_gate = F.lit(False)
    for lang, threshold in mix.items():
        mix_gate = F.when(
            F.col("lang") == lang, hash_gate(F.col("doc_id"), threshold)
        ).otherwise(mix_gate)
    mixed = deduped.where(mix_gate)

    chunks = chunk_documents(
        mixed, text_col="text", id_col="doc_id", window=chunk_window, stride=chunk_stride
    )
    packed = pack_chunks(chunks, budget=pack_budget)
    packed.write.mode("overwrite").parquet(out_dir)

    # one-pass doc funnel + one count over the written (small) pack plan
    funnel = flags.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("q_ok").cast("bigint")).alias("n_quality"),
    ).first()
    n_dedup = deduped.count()
    n_mixed = mixed.count()
    pack_stats = (
        spark.read.parquet(out_dir)
        .agg(
            F.count(F.lit(1)).alias("n_sequences"),
            F.coalesce(F.sum("n_chunks"), F.lit(0)).alias("n_chunks"),
            F.coalesce(F.sum("seq_tokens"), F.lit(0)).alias("total_tokens"),
        )
        .first()
    )
    return {
        "n_raw": funnel["n_raw"],
        "n_quality": funnel["n_quality"],
        "n_dedup": n_dedup,
        "n_mixed": n_mixed,
        "n_sequences": pack_stats["n_sequences"],
        "n_chunks": pack_stats["n_chunks"],
        "total_tokens": int(pack_stats["total_tokens"]),
    }
