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
