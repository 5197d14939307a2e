from __future__ import annotations

import pytest

from databricks_etl_pipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(group, fn)``: ``fn()``'s result and the number of Spark
    jobs it ran, counted under the job group ``group``."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
