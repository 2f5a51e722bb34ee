"""Cache manager: checksum hits, dependency invalidation, subfilter reuse."""

from __future__ import annotations

import pytest

from blueetl_spark.plans.cache import CacheManager, CachedPipeline, checksum


@pytest.fixture()
def cache(spark, tmp_path):
    return CacheManager(spark, tmp_path / "cache")


def _df(spark, ids):
    return spark.createDataFrame([(i, i * 10.0) for i in ids], "simulation_id int, v double")


def test_dump_load_roundtrip(spark, cache):
    cs = checksum({"a": 1})
    cache.dump("simulations", _df(spark, [1, 2, 3]), cs)
    assert cache.is_cached("simulations", cs)
    assert not cache.is_cached("simulations", checksum({"a": 2}))
    got = cache.load("simulations").toPandas().sort_values("simulation_id")
    assert list(got.simulation_id) == [1, 2, 3]


def test_fetch_subfilter_refilters(spark, cache):
    cs = checksum({"a": 1})
    cache.dump("report", _df(spark, [1, 2, 3, 4]), cs, simulations_filter={})
    # narrower filter → cached parquet refiltered, not recomputed
    got = cache.fetch("report", cs, {"simulation_id": [1, 2]})
    assert got is not None
    assert sorted(r.simulation_id for r in got.collect()) == [1, 2]
    # same filter → direct load
    cache.dump("report2", _df(spark, [1, 2]), cs, {"simulation_id": [1, 2]})
    got2 = cache.fetch("report2", cs, {"simulation_id": [1, 2]})
    assert got2 is not None and got2.count() == 2
    # broader filter → must recompute
    assert cache.fetch("report2", cs, {}) is None
    # wrong checksum → miss
    assert cache.fetch("report", checksum({"a": 2}), {}) is None


def test_fetch_coordinate_filter_resolves_via_simulations(spark, cache):
    """A filter over campaign coordinates (columns only on the simulations
    table) must refilter downstream frames by surviving simulation_ids —
    never silently drop the missing key (reference repository.py:140-204)."""
    cs = checksum({"a": 1})
    sims = spark.createDataFrame(
        [(1, 0.1), (2, 0.1), (3, 0.2)], "simulation_id int, seed double"
    )
    cache.dump("simulations", sims, cs, simulations_filter={})
    cache.dump("report", _df(spark, [1, 2, 3]), cs, simulations_filter={})
    # report has no `seed` column; filter must resolve through simulations
    got = cache.fetch("report", cs, {"seed": 0.1})
    assert got is not None
    assert sorted(r.simulation_id for r in got.collect()) == [1, 2]
    # mixed coordinate + id filter also resolves (AND semantics)
    got2 = cache.fetch("report", cs, {"seed": 0.1, "simulation_id": [2, 3]})
    assert got2 is not None
    assert sorted(r.simulation_id for r in got2.collect()) == [2]


def test_fetch_coordinate_filter_without_simulations_recomputes(spark, cache):
    """If the coordinate filter can't be resolved (no cached simulations),
    fetch must return None — an under-filtered frame would be silent data
    corruption."""
    cs = checksum({"a": 1})
    cache.dump("report", _df(spark, [1, 2, 3]), cs, simulations_filter={})
    assert cache.fetch("report", cs, {"seed": 0.1}) is None


def test_invalidate_from_chain(spark, cache):
    cs = checksum({})
    for name in ["simulations", "neurons", "windows", "report"]:
        cache.dump(name, _df(spark, [1]), cs)
    cache.dump("features_x", _df(spark, [1]), cs)
    cache.invalidate_from("windows")
    assert cache.is_cached("simulations", cs)
    assert cache.is_cached("neurons", cs)
    assert not cache.is_cached("windows", cs)
    assert not cache.is_cached("report", cs)
    assert not cache.is_cached("features_x", cs)


def test_readonly(spark, tmp_path):
    rw = CacheManager(spark, tmp_path / "c")
    rw.dump("simulations", _df(spark, [1]), checksum({}))
    ro = CacheManager(spark, tmp_path / "c", readonly=True)
    assert ro.load("simulations").count() == 1
    with pytest.raises(PermissionError):
        ro.dump("simulations", _df(spark, [2]), checksum({}))
    with pytest.raises(PermissionError):
        ro.delete("simulations")


def test_pipeline_get_or_compute_counts(spark, tmp_path):
    cache = CacheManager(spark, tmp_path / "c")
    calls = []
    pipe = CachedPipeline(cache, {"simulations": {"v": 1}})

    def compute():
        calls.append(1)
        return _df(spark, [1, 2])

    assert pipe.get_or_compute("simulations", compute).count() == 2
    assert pipe.get_or_compute("simulations", compute).count() == 2
    assert len(calls) == 1  # second call served from cache

    # changed config → plan_invalidation clears it
    pipe2 = CachedPipeline(cache, {"simulations": {"v": 2}})
    victims = pipe2.plan_invalidation()
    assert "simulations" in victims
    assert pipe2.get_or_compute("simulations", compute).count() == 2
    assert len(calls) == 2


def test_load_pins_dumped_schema(spark, cache, count_jobs):
    """The meta sidecar carries the schema, so reopening a table starts no
    schema-inference job and yields what inference would (array columns
    and nullability included)."""
    df = spark.createDataFrame(
        [(1, [0.5, 1.5], "a"), (2, [], None)],
        "simulation_id int, times array<double>, tag string",
    )
    cache.dump("features_t", df, checksum({}))
    assert "schema" in cache.get_meta("features_t")
    loaded, jobs = count_jobs(lambda: cache.load("features_t"))
    assert jobs == 0
    inferred = spark.read.parquet(str(cache.path / "features_t.parquet"))
    assert loaded.schema == inferred.schema
    assert sorted(map(tuple, loaded.collect())) == sorted(map(tuple, df.collect()))


def test_meta_without_schema_still_loads(spark, cache):
    """Meta written before schemas were recorded falls back to inference."""
    import json

    cache.dump("simulations", _df(spark, [1, 2]), checksum({}))
    meta_path = cache.path / "simulations.meta.json"
    meta = json.loads(meta_path.read_text())
    del meta["schema"]
    meta_path.write_text(json.dumps(meta))
    got = cache.load("simulations")
    assert got.schema.simpleString() == "struct<simulation_id:int,v:double>"
    assert sorted(r.simulation_id for r in got.collect()) == [1, 2]


def test_coordinate_resolution_runs_no_job_and_follows_simulations_redump(
    spark, cache, count_jobs
):
    """A coordinate subfilter resolves against the driver-resident
    simulations table: no fetch runs a Spark job, and a re-dumped
    simulations table is what the next fetch resolves against."""
    cs = checksum({"a": 1})
    sims = spark.createDataFrame(
        [(1, 0.1), (2, 0.1), (3, 0.2)], "simulation_id int, seed double"
    )
    cache.dump("simulations", sims, cs, simulations_filter={})
    for name in ("features_a", "features_b"):
        cache.dump(name, _df(spark, [1, 2, 3]), cs, simulations_filter={})
    first, jobs_first = count_jobs(lambda: cache.fetch("features_a", cs, {"seed": 0.1}))
    second, jobs_second = count_jobs(
        lambda: cache.fetch("features_b", cs, {"seed": 0.1})
    )
    assert jobs_first == jobs_second == 0
    for got in (first, second):
        assert sorted(r.simulation_id for r in got.collect()) == [1, 2]

    sims2 = spark.createDataFrame(
        [(1, 0.2), (2, 0.1), (3, 0.1)], "simulation_id int, seed double"
    )
    cache.dump("simulations", sims2, cs, simulations_filter={})
    got = cache.fetch("features_b", cs, {"seed": 0.1})
    assert sorted(r.simulation_id for r in got.collect()) == [2, 3]


def test_failed_dump_leaves_no_residue(spark, cache):
    from pyspark.sql import functions as F

    bad = _df(spark, [1, 2]).withColumn(
        "v", F.raise_error(F.lit("boom")).cast("double")
    )
    with pytest.raises(Exception, match="boom"):
        cache.dump("features_bad", bad, checksum({}))
    assert [p.name for p in cache.path.iterdir()] == []


def test_get_or_compute_carries_driver_side_attributes(spark, tmp_path):
    """Facts stashed on the computed frame (windows' time bounds) survive
    the dump + reload of a cold cached step, and a later cache hit."""
    pipe = CachedPipeline(CacheManager(spark, tmp_path / "c"), {"windows": {}})

    def compute():
        df = _df(spark, [1])
        df._blueetl_time_bounds = (0.0, 5.0)
        return df

    assert pipe.get_or_compute("windows", compute)._blueetl_time_bounds == (0.0, 5.0)
    hit = pipe.get_or_compute("windows", lambda: _df(spark, [1]))
    assert hit._blueetl_time_bounds == (0.0, 5.0)


def test_driver_tables_load_the_rows_the_parquet_reader_reads(spark, cache, count_jobs):
    """A config-sized table loads driver-resident, with the rows and schema
    Spark's parquet reader gives, for date, timestamp, array and map
    condition columns too; collecting it runs no job."""
    import datetime

    from blueetl_spark.sources.campaign import SimulationCampaign

    sims = SimulationCampaign([
        {"simulation_path": "/a", "d": datetime.date(2020, 1, 1),
         "ts": datetime.datetime(2020, 1, 1, 12, 30), "l": [1, None], "m": {"x": 1}},
        {"simulation_path": "/b", "d": None, "ts": None, "l": None, "m": {"y": 2}},
    ]).to_simulations_df(spark)
    cache.dump("simulations", sims, checksum({}))
    read = spark.read.parquet(str(cache.path / "simulations.parquet"))
    got, jobs = count_jobs(lambda: cache.load("simulations").collect())
    assert jobs == 0
    assert cache.load("simulations").schema == read.schema
    assert sorted(got) == sorted(read.collect())
