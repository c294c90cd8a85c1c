"""Structured Streaming sinks and transforms over the engine's batch-CDC
semantics.

- ``cdc`` — watermarked windowed aggregation, streaming dedup, and
  foreachBatch sinks (partition rebuild, incremental marts, stores).
- ``metrics`` — a StreamingQueryListener that renders per-batch health
  (input rows, rates, batch duration, watermark) as a DataFrame.
"""
