from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbitool_spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("dbitool_spark-tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: scale-shaped measurements (10^6-row state); run in CI but "
        "deselectable with -m 'not slow' for quick iteration",
    )


@contextlib.contextmanager
def executed_plans(spark):
    """Yield a list that holds, once the block exits, the physical plan
    of every SQL execution the block ran (AQE's final plan where it
    re-planned), read from the SQL status store by execution id. Eager
    operators checkpoint their result, so explain() on what they return
    shows only the checkpoint scan; the plans that actually ran are
    here."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    plans: list[str] = []
    lo = last_id()
    yield plans
    for eid in range(lo + 1, last_id() + 1):
        ex = store.execution(eid)
        if ex.isDefined():
            plans.append(ex.get().physicalPlanDescription())
