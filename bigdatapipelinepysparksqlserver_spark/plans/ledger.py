"""Run-ledger / lineage state machine (reference `Sales_History_Lineage`).

Reproduces the reference's exactly-once-with-restart protocol
(`load_sales_history.py:19-48,:63-65,:181-183,:200-202,:249-251`):

1. next run-id = COALESCE(MAX(id of fully-successful runs), 0) + 1   (A5, P7)
2. purge rows of failed runs: DELETE WHERE id >= next_id             (M3, P8)
3. INSERT (id, exec_start, cutoffs, 'RUNNING', 'NOT STARTED')        (M1)
4. UPDATE pipeline_status -> SUCCESSFUL/FAILED on finish             (M2)
5. UPDATE validation_* on reconcile                                  (M2)
6. previous_cutoff = current_cutoff of run (id-1)                    (S11)

Storage is one small parquet file in the ledger directory. The ledger
holds one row per pipeline run, and the reference keeps it in SQL
Server, where each step above is a single-row statement. Routing those
steps through Spark jobs made them the slowest part of a CDC cycle, so
``RunLedger`` reads and rewrites the file on the driver with pyarrow
and launches no Spark job. Each mutation writes the whole ledger to a
hidden temp file in the directory and ``os.replace``s it onto the data
file, so a reader sees either the old ledger or the new one. ``read()``
still returns a Spark DataFrame with the ``LEDGER`` schema, and a
directory left by the earlier Spark writer stays readable until the
first mutation replaces it. ``JdbcRunLedger`` keeps the ledger in the
database with per-row SQL.

All timestamps are injected (``clock`` callables) — SURVEY §7.5 risk 3:
`datetime.now()` at 6+ reference sites makes runs unreproducible; the
engine takes the clock as a parameter for deterministic tests.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import LEDGER

# TimestampType → timestamp[us, UTC]: the instant PySpark's toInternal
# computes, stored the way Spark reads a TimestampType column back
_ARROW_LEDGER = to_arrow_schema(LEDGER)

RUNNING = "RUNNING"
SUCCESSFUL = "SUCCESSFUL"
FAILED = "FAILED"
NOT_STARTED = "NOT STARTED"


def default_cutoff(now: datetime, lag_minutes: int = 5) -> datetime:
    """F6 — truncate to minute, minus safety lag (load_sales_history.py:33-36).

    The 5-minute lag is the watermark against in-flight OLTP transactions:
    a row commit-stamped at 12:00:59.9 must not be missed by a cutoff taken
    at 12:01:00.0.
    """
    return now.replace(second=0, microsecond=0) - timedelta(minutes=lag_minutes)


class RunLedger:
    DATA_FILE = "ledger.parquet"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- reads ------------------------------------------------------------

    def _data_files(self) -> list[str]:
        """The files that hold the ledger. Once a mutation has written
        ``DATA_FILE`` it is the whole ledger; before that, a directory
        left by the Spark writer holds ``part-*`` files. Hidden (``.``/
        ``_``) names are temp files, checksums and markers, which Spark
        skips too."""
        if not os.path.isdir(self.path):
            return []
        main = os.path.join(self.path, self.DATA_FILE)
        if os.path.isfile(main):
            return [main]
        return [
            os.path.join(self.path, n)
            for n in sorted(os.listdir(self.path))
            if not n.startswith((".", "_"))
        ]

    def read(self):
        files = self._data_files()
        if not files:
            return self.spark.createDataFrame([], LEDGER)
        return self.spark.read.schema(LEDGER).parquet(*files)

    def rows(self) -> list[Row]:
        """The ledger as Rows sorted by id, read on the driver. Values
        equal ``read().collect()`` field for field: timestamps go through
        the same ``TimestampType`` conversion PySpark applies."""
        out = []
        for f in self._data_files():
            t = pq.read_table(f, columns=LEDGER.fieldNames())
            cols = []
            for name in LEDGER.fieldNames():
                col = t.column(name)
                if pa.types.is_timestamp(col.type):
                    # the Spark writer stores INT96 (read back as ns)
                    col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
                cols.append(col.to_pylist())
            out.extend(LEDGER.fromInternal(v) for v in zip(*cols))
        return sorted(out, key=lambda r: r.id)

    def next_run_id(self) -> int:
        """MAX(id)+1 over fully-successful runs (load_sales_history.py:25-27)."""
        ok = [
            r.id
            for r in self.rows()
            if r.pipeline_status == SUCCESSFUL and r.validation_status == SUCCESSFUL
        ]
        return (max(ok) if ok else 0) + 1

    def previous_cutoff(self, run_id: int) -> datetime | None:
        """current_cutoff of run (run_id - 1); None = first run = full load
        (load_sales_history.py:39-48)."""
        prev = [r.current_cutoff for r in self.rows() if r.id == int(run_id) - 1]
        return prev[0] if prev else None

    # -- mutations --------------------------------------------------------

    def purge_failed(self, from_id: int) -> None:
        """M3/P8 — DELETE WHERE id >= from_id: erase traces of failed runs
        so a restart is idempotent (load_sales_history.py:30-31)."""
        self._write([r for r in self.rows() if r.id < int(from_id)])

    def start_run(self, run_id: int, now: datetime, previous_cutoff: datetime | None,
                  current_cutoff: datetime) -> None:
        """M1 — append the RUNNING row (load_sales_history.py:63-65)."""
        self._write(self.rows() + [_running_row(run_id, now, previous_cutoff, current_cutoff)])

    def finish_run(self, run_id: int, now: datetime, status: str) -> None:
        """M2 — UPDATE exec_finish/pipeline_status WHERE id = run_id
        (load_sales_history.py:181-183)."""
        self._update(run_id, exec_finish=now, pipeline_status=status)

    def start_validation(self, run_id: int, now: datetime) -> None:
        self._update(run_id, validation_start=now, validation_status=RUNNING)

    def finish_validation(self, run_id: int, now: datetime, status: str) -> None:
        """M2 — UPDATE validation verdict (load_sales_history.py:249-251)."""
        self._update(run_id, validation_finish=now, validation_status=status)

    # -- internals --------------------------------------------------------

    def _update(self, run_id: int, **fields) -> None:
        rows = [r.asDict() for r in self.rows()]
        for r in rows:
            if r["id"] == run_id:
                r.update(fields)
        self._write([Row(**r) for r in rows])

    def _write(self, rows: list[Row]) -> None:
        """Replace the ledger with ``rows``: write a hidden temp file,
        ``os.replace`` it onto ``DATA_FILE``, then delete everything
        else in the directory (Spark-writer parts and markers, the
        ``_temporary/`` tree of an interrupted Spark append, temp files
        of interrupted writes). Readers see the old ledger or the
        new one, never neither."""
        os.makedirs(self.path, exist_ok=True)
        internal = [LEDGER.toInternal(r) for r in rows]
        table = pa.Table.from_pylist(
            [dict(zip(LEDGER.fieldNames(), v)) for v in internal], schema=_ARROW_LEDGER
        )
        tmp = os.path.join(self.path, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, self.DATA_FILE))
        for n in os.listdir(self.path):
            if n != self.DATA_FILE:
                p = os.path.join(self.path, n)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)


def _running_row(run_id: int, now: datetime, previous_cutoff: datetime | None,
                 current_cutoff: datetime) -> Row:
    return Row(
        id=run_id,
        exec_start=now,
        exec_finish=None,
        previous_cutoff=previous_cutoff,
        current_cutoff=current_cutoff,
        pipeline_status=RUNNING,
        validation_start=None,
        validation_finish=None,
        validation_status=NOT_STARTED,
    )


class JdbcRunLedger(RunLedger):
    """The ledger where the reference actually keeps it: a lineage table
    in the SQL database (`Sales_History_Lineage`), mutated with REAL
    per-row SQL — INSERT (M1), UPDATE ... WHERE id (M2), DELETE WHERE
    id >= n (M3/P8), scalar cutoff lookup (S11) — instead of the parquet
    read-modify-overwrite. Same public API; ``run_pipeline_1`` takes
    either.

    Control-plane statements go through a raw java.sql connection (one
    row per statement; Spark's writer only does the initial INSERT so
    the table is created with proper VARCHAR columns). Timestamps are
    passed as JDBC timestamp literals in UTC-naive form, matching the
    session timezone the engine pins.
    """

    TABLE = "SALES_HISTORY_LINEAGE"

    def __init__(self, spark: SparkSession, cfg):
        self.spark = spark
        self.cfg = cfg

    # -- storage layer ----------------------------------------------------

    def _connection(self):
        jvm = self.spark.sparkContext._jvm
        return jvm.java.sql.DriverManager.getConnection(
            self.cfg.url, self.cfg.user, self.cfg.password
        )

    def _exists(self) -> bool:
        conn = self._connection()
        try:
            rs = conn.getMetaData().getTables(None, None, self.TABLE, None)
            try:
                return bool(rs.next())
            finally:
                rs.close()
        finally:
            conn.close()

    def _execute(self, sql: str) -> None:
        conn = self._connection()
        try:
            conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()

    @staticmethod
    def _ts(dt: datetime) -> str:
        return "TIMESTAMP('" + dt.strftime("%Y-%m-%d %H:%M:%S") + "')"

    def read(self):
        from ..sources.jdbc import read_jdbc

        if not self._exists():
            return self.spark.createDataFrame([], LEDGER)
        df = read_jdbc(self.spark, self.cfg, self.TABLE)
        return df.select(
            *[df[f.name].cast(f.dataType).alias(f.name) for f in LEDGER.fields]
        )

    def rows(self) -> list[Row]:
        return sorted(self.read().collect(), key=lambda r: r.id)

    def purge_failed(self, from_id: int) -> None:
        if self._exists():
            self._execute(
                f'DELETE FROM {self.TABLE} WHERE "id" >= {int(from_id)}'
            )

    def start_run(self, run_id: int, now: datetime, previous_cutoff: datetime | None,
                  current_cutoff: datetime) -> None:
        from ..sources.jdbc import write_jdbc

        row = _running_row(run_id, now, previous_cutoff, current_cutoff)
        write_jdbc(
            self.spark.createDataFrame([row], LEDGER),
            self.cfg,
            self.TABLE,
            mode="append",
            create_column_types="pipeline_status VARCHAR(16), validation_status VARCHAR(16)",
        )

    def _update(self, run_id: int, **fields) -> None:
        sets = []
        for k, v in fields.items():
            if isinstance(v, datetime):
                sets.append(f'"{k}" = {self._ts(v)}')
            else:
                sets.append(f"\"{k}\" = '{v}'")
        self._execute(
            f'UPDATE {self.TABLE} SET {", ".join(sets)} WHERE "id" = {int(run_id)}'
        )
