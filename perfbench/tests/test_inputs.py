import hashlib
from pathlib import Path

import pytest

from perfbench import inputs


def _contents(d: Path) -> list[str]:
    """Content hashes of every parquet part file (part names hold a
    per-write random id, so the names are left out)."""
    return sorted(
        hashlib.md5(p.read_bytes()).hexdigest()
        for p in d.rglob("*.parquet") if p.is_file()
    )


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(inputs, "EVENTS_PER_SIM", 500)
    monkeypatch.setattr(inputs, "N_ORDERS", 300)
    monkeypatch.setattr(inputs, "N_DOCUMENTS", 20)


@pytest.mark.parametrize("write", [inputs.write_campaign_inputs,
                                   inputs.write_gate_tables])
def test_same_seed_same_bytes_other_seed_other_bytes(spark, tmp_path, small, write):
    write(spark, 7, tmp_path / "a")
    write(spark, 7, tmp_path / "b")
    write(spark, 8, tmp_path / "c")
    a, b, c = (_contents(tmp_path / x) for x in "abc")
    assert a and a == b
    assert set(a).isdisjoint(c)


def test_sizes_do_not_depend_on_the_seed(spark, tmp_path, small):
    counts = []
    for seed in (1, 2):
        inputs.write_campaign_inputs(spark, seed, tmp_path / str(seed))
        ev = spark.read.parquet(str(tmp_path / str(seed) / "events.parquet"))
        counts.append(ev.groupBy("simulation_id").count().orderBy("simulation_id").collect())
    assert counts[0] == counts[1]
    assert {r["count"] for r in counts[0]} == {inputs.EVENTS_PER_SIM}


def test_grid_filters_select_equal_sized_subsets():
    import random

    rng = random.Random(3)
    for _ in range(20):
        cold = inputs.grid_filter(rng, inputs.COLD_SEEDS, inputs.COLD_CA)
        assert len(inputs.simulation_ids(cold)) == inputs.COLD_SEEDS * inputs.COLD_CA
        narrow = inputs.grid_filter(rng, inputs.WARM_SEEDS, inputs.WARM_CA,
                                    cold["seed"], cold["ca"])
        # the re-query filter is a strict subfilter of the cold one
        assert set(inputs.simulation_ids(narrow)) < set(inputs.simulation_ids(cold))
