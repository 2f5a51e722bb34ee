"""Session helpers that read cluster configuration."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from blueetl_spark.session import shuffle_partitions


def _stub(value):
    return SimpleNamespace(
        conf=SimpleNamespace(
            get=lambda key: {"spark.sql.shuffle.partitions": value}[key]
        ),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )


@pytest.mark.parametrize("value, expected", [("12", 12), ("auto", 7), (None, 7)])
def test_shuffle_partitions_falls_back_to_default_parallelism(value, expected):
    assert shuffle_partitions(_stub(value)) == expected


def test_shuffle_partitions_reads_the_session(spark):
    expected = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_partitions(spark) == expected


def test_local_df_filter_and_collect_run_no_job(spark, count_jobs):
    """Under the session's Arrow setting a ``local_df`` frame is a
    ``LocalRelation``: filtering and collecting it stays on the driver."""
    from pyspark.sql import functions as F

    from blueetl_spark.session import local_df

    df = local_df(spark, [(1, "a"), (2, None)], "id smallint, s string")
    rows, jobs = count_jobs(lambda: df.filter(F.col("id") == 2).select("s").collect())
    assert [r.s for r in rows] == [None]
    assert jobs == 0
