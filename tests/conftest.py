from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep unit tests light


@pytest.fixture(scope="session")
def spark():
    from blueetl_spark.session import get_spark

    spark = get_spark(
        app_name="blueetl_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs it started)``,
    counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
