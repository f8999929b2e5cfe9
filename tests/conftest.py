from __future__ import annotations

import contextlib
import os

import pytest

TESTDATA = os.environ.get("ADT_TESTDATA_ROOT", "/root/testdata")
#: sf0.001 keeps the suite fast; set ADT_TEST_SF=sf0.01 for the
#: driver-equivalent scale before committing.
SF_DIR = os.path.join(TESTDATA, os.environ.get("ADT_TEST_SF", "sf0.001"))


@contextlib.contextmanager
def _job_group(spark, group):
    """Collects the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from adt_spark import ADTContext

    ctx = ADTContext(app_name="adt-spark-tests")
    yield ctx.spark
    # release the memo registry BEFORE stopping the session: its
    # entries hold checkpoint references, sink views and scratch dirs
    from adt_spark.operators import memo

    memo.clear()
    ctx.spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
