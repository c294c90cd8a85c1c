"""Streaming health observability — a StreamingQueryListener that turns
per-batch progress events into a queryable DataFrame.

At production scale a continuously-running pipeline is operated on three
numbers per micro-batch: input rate, processing rate, and batch
duration (plus watermark lag for event-time queries). Spark already
emits all of them through the listener bus; this module just collects
them durably enough to alert on, with zero instrumentation inside the
query plans themselves — attach one listener per session, read the
health table whenever.

Driver-side by design: progress events are control-plane metadata
(one small dict per micro-batch, regardless of data volume), so
collecting them on the driver costs nothing at 100 TB — the DATA never
flows through the listener.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PROGRESS_SCHEMA = StructType(
    [
        StructField("query_name", StringType()),
        StructField("query_id", StringType()),
        StructField("batch_id", LongType()),
        StructField("batch_ts", StringType()),
        StructField("num_input_rows", LongType()),
        StructField("input_rows_per_second", DoubleType()),
        StructField("processed_rows_per_second", DoubleType()),
        StructField("batch_duration_ms", LongType()),
        StructField("watermark", StringType()),
    ]
)


class StreamingHealthListener(StreamingQueryListener):
    """Collects every query-progress event into an in-memory, thread-safe
    buffer (progress events arrive on the listener-bus thread, snapshots
    are read from the caller's thread).

    ``snapshot(spark)`` renders the buffer as a DataFrame with a fixed
    schema — join it, window it, or sink it with the same operators as
    any other table (e.g. alert when ``batch_duration_ms`` trends above
    the trigger interval, the classic falling-behind signal). ``clear()``
    truncates after a sink flush; the buffer keeps the newest 10,000
    batches, which bounds memory for long-lived sessions (oldest entries
    drop first — the health table is a gauge, not an audit log; sink
    snapshots periodically if history matters).
    """

    def __init__(self):
        self._rows: list[tuple] = []
        self._lock = threading.Lock()
        self._max = 10_000

    # -- listener callbacks (driver listener-bus thread) --------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # the typed accessors cover most fields; durationMs/eventTime
        # come via the JSON form, which is version-stable public API
        d = json.loads(p.json)
        row = (
            d.get("name"),
            str(d.get("id")),
            int(d.get("batchId", -1)),
            d.get("timestamp"),
            int(d.get("numInputRows", 0)),
            float(d.get("inputRowsPerSecond") or 0.0),
            float(d.get("processedRowsPerSecond") or 0.0),
            int((d.get("durationMs") or {}).get("triggerExecution", 0)),
            (d.get("eventTime") or {}).get("watermark"),
        )
        with self._lock:
            self._rows.append(row)
            if len(self._rows) > self._max:
                del self._rows[: len(self._rows) - self._max]

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- reading side --------------------------------------------------
    def snapshot(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self._rows)
        return spark.createDataFrame(rows, PROGRESS_SCHEMA)

    def clear(self) -> None:
        with self._lock:
            self._rows.clear()


def attach_health_listener(spark: SparkSession) -> StreamingHealthListener:
    """Create + register a health listener on this session's listener
    bus; returns the listener (caller keeps the handle to snapshot /
    clear / remove via ``spark.streams.removeListener``)."""
    listener = StreamingHealthListener()
    spark.streams.addListener(listener)
    return listener
