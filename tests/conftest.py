from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def plan_report():
    """tools/plan_report.py, loaded by path (tools/ is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_report",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_report.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def executed_plan():
    """The executed (physical) plan string of a DataFrame."""
    return lambda df: df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def jobs_launched(spark):
    """``with jobs_launched() as jobs:`` runs the block in a job group of
    its own; on leaving it, the group the thread had is restored and
    ``jobs`` holds the ids of the Spark jobs the block launched."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    @contextlib.contextmanager
    def launched():
        old = {p: sc.getLocalProperty(p) for p in props}
        group = f"jobs-launched-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_launched")
        jobs: list = []
        try:
            yield jobs
        finally:
            for p, v in old.items():
                sc.setLocalProperty(p, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return launched
