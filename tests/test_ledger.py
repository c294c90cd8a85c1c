"""Run-ledger state machine (C4/C5/A5/M1-M3, load_sales_history.py:19-48)."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from bigdatapipelinepysparksqlserver_spark.plans.ledger import (
    FAILED,
    RUNNING,
    SUCCESSFUL,
    RunLedger,
    default_cutoff,
)
from bigdatapipelinepysparksqlserver_spark.schemas import LEDGER

T0 = datetime(2024, 6, 1, 12, 3, 42, 123456)


def test_default_cutoff_truncates_and_lags():
    assert default_cutoff(T0) == datetime(2024, 6, 1, 11, 58)


def test_empty_ledger_first_run(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    assert led.next_run_id() == 1
    assert led.previous_cutoff(1) is None


def test_state_machine_and_restart(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    cut1 = default_cutoff(T0)

    led.start_run(1, T0, None, cut1)
    led.finish_run(1, T0, SUCCESSFUL)
    led.start_validation(1, T0)
    led.finish_validation(1, T0, SUCCESSFUL)

    # run 2 fails validation -> next id must REUSE 2, not 3
    t1 = datetime(2024, 6, 1, 13, 0)
    cut2 = default_cutoff(t1)
    assert led.next_run_id() == 2
    led.start_run(2, t1, led.previous_cutoff(2), cut2)
    led.finish_run(2, t1, FAILED)
    assert led.next_run_id() == 2

    # restart: purge failed rows, previous_cutoff comes from run 1
    led.purge_failed(2)
    assert [r.id for r in led.read().collect()] == [1]
    assert led.previous_cutoff(2) == cut1


def test_validation_failure_blocks_id_advance(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    led.start_run(1, T0, None, default_cutoff(T0))
    led.finish_run(1, T0, SUCCESSFUL)
    led.start_validation(1, T0)
    led.finish_validation(1, T0, FAILED)
    # pipeline ok but validation failed -> run 1 is not fully successful
    assert led.next_run_id() == 1


# ---------------------------------------------------------------------------
# Driver-local storage: RunLedger reads and rewrites its parquet file with
# pyarrow. These pin the equivalence with the Spark view (read()), the
# crash window of a mutation, the layout left by the earlier Spark writer,
# and the absence of Spark jobs on the ledger path.
# ---------------------------------------------------------------------------


def _visible(path):
    return sorted(n for n in os.listdir(path) if not n.startswith((".", "_")))


def _run(led, run_id, now):
    led.start_run(run_id, now, led.previous_cutoff(run_id), default_cutoff(now))
    led.finish_run(run_id, now, SUCCESSFUL)
    led.start_validation(run_id, now)
    led.finish_validation(run_id, now, SUCCESSFUL)


def _assert_same_as_spark(led):
    assert led.rows() == sorted(led.read().collect(), key=lambda r: r.id)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_driver_rows_equal_spark_read(spark, tmp_path, tz, monkeypatch):
    """rows() and read().collect() agree field for field, microseconds and
    NULLs included. A naive timestamp means process-local time, as for
    PySpark's TimestampType, so the equality must hold off UTC too."""
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        led = RunLedger(spark, str(tmp_path / "ledger"))
        t = datetime(2024, 3, 10, 1, 59, 59, 999999)
        led.start_run(1, t, None, default_cutoff(t))
        led.finish_run(1, t.replace(microsecond=1), SUCCESSFUL)
        led.start_validation(1, t.replace(microsecond=2))
        led.finish_validation(1, t.replace(microsecond=3), SUCCESSFUL)
        t2 = datetime(2024, 7, 4, 23, 0, 0, 500)
        led.start_run(2, t2, led.previous_cutoff(2), default_cutoff(t2))

        got = led.rows()
        assert got == [
            Row(id=1, exec_start=t, exec_finish=t.replace(microsecond=1),
                previous_cutoff=None, current_cutoff=default_cutoff(t),
                pipeline_status=SUCCESSFUL, validation_start=t.replace(microsecond=2),
                validation_finish=t.replace(microsecond=3),
                validation_status=SUCCESSFUL),
            Row(id=2, exec_start=t2, exec_finish=None,
                previous_cutoff=default_cutoff(t), current_cutoff=default_cutoff(t2),
                pipeline_status=RUNNING, validation_start=None,
                validation_finish=None, validation_status="NOT STARTED"),
        ]
        _assert_same_as_spark(led)
        # file-source reads mark every column nullable, so compare names and types
        assert [(f.name, f.dataType) for f in led.read().schema] == [
            (f.name, f.dataType) for f in LEDGER
        ]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_spark_written_ledger_migrates_on_first_mutation(spark, tmp_path):
    """A directory left by the Spark writer (part files, _SUCCESS, .crc
    checksums) reads through rows(); the first mutation leaves exactly
    one data file holding the same rows plus the change."""
    path = str(tmp_path / "ledger")
    t = datetime(2024, 6, 1, 12, 3, 42, 654321)
    old = [
        Row(id=i, exec_start=t + timedelta(hours=i), exec_finish=t + timedelta(hours=i),
            previous_cutoff=None if i == 1 else t, current_cutoff=t,
            pipeline_status=SUCCESSFUL, validation_start=None,
            validation_finish=t if i == 1 else None, validation_status=SUCCESSFUL)
        for i in (1, 2, 3)
    ]
    spark.createDataFrame(old, LEDGER).repartition(2).write.parquet(path)
    assert len(_visible(path)) == 2 and "_SUCCESS" in os.listdir(path)
    # a Spark append killed mid-job leaves its staging tree behind
    os.makedirs(os.path.join(path, "_temporary", "0"))
    open(os.path.join(path, "_temporary", "0", "part-00000.parquet"), "wb").close()

    led = RunLedger(spark, path)
    assert led.rows() == old
    _assert_same_as_spark(led)
    assert led.next_run_id() == 4

    led.start_run(4, t, led.previous_cutoff(4), t)
    assert os.listdir(path) == [RunLedger.DATA_FILE]
    assert led.rows()[:3] == old and led.rows()[3].pipeline_status == RUNNING
    _assert_same_as_spark(led)


def test_interrupted_mutation_keeps_previous_ledger(spark, tmp_path, monkeypatch):
    """Kill point between the temp-file write and the os.replace: the
    ledger still holds its previous rows, the leftover temp file is
    invisible to rows() and read(), and the next mutation removes it."""
    path = str(tmp_path / "ledger")
    led = RunLedger(spark, path)

    def killed(src, dst):
        raise OSError("killed before replace")

    # first write into a fresh directory
    with monkeypatch.context() as m:
        m.setattr(os, "replace", killed)
        with pytest.raises(OSError, match="killed"):
            led.start_run(1, T0, None, default_cutoff(T0))
    assert led.rows() == [] and led.read().collect() == []
    assert led.next_run_id() == 1

    _run(led, 1, T0)
    before = led.rows()
    assert led.next_run_id() == 2

    t1 = datetime(2024, 6, 2, 8, 0)
    with monkeypatch.context() as m:
        m.setattr(os, "replace", killed)
        with pytest.raises(OSError, match="killed"):
            led.start_run(2, t1, led.previous_cutoff(2), default_cutoff(t1))
    leftovers = [n for n in os.listdir(path) if n.startswith(".")]
    assert leftovers
    assert led.rows() == before
    assert sorted(led.read().collect(), key=lambda r: r.id) == before
    assert led.next_run_id() == 2

    led.start_run(2, t1, led.previous_cutoff(2), default_cutoff(t1))
    assert os.listdir(path) == [RunLedger.DATA_FILE]
    assert [r.id for r in led.rows()] == [1, 2]


def test_ledger_cycle_launches_no_spark_job(spark, tmp_path):
    """A full start_run → finish_validation sequence, with the id, purge
    and cutoff lookups around it, stays on the driver."""
    sc = spark.sparkContext
    led = RunLedger(spark, str(tmp_path / "ledger"))
    _run(led, 1, T0)  # the first write creates the directory
    group = f"ledger-no-jobs-{os.getpid()}"
    sc.setJobGroup(group, "ledger cycle")
    try:
        t1 = datetime(2024, 6, 2, 8, 0)
        run_id = led.next_run_id()
        led.purge_failed(run_id)
        _run(led, run_id, t1)
        led.rows()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [r.id for r in led.rows()] == [1, 2]
