from __future__ import annotations

import os
import sys

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
