from __future__ import annotations

import uuid

import pytest

from vega_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("vega-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(fn)`` runs ``fn()`` and returns ``(result, n)``,
    where n is the number of Spark jobs ``fn`` launched on this thread."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_launched-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_launched")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
