"""End-to-end config-driven pipeline: cold run, warm (cached) run
equivalence, apply_filter — mirrors the reference's functional protocol
(SURVEY §5: run twice, compare; filtered views checked separately)."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from blueetl_spark.analysis import (
    MultiAnalyzer,
    expand_features_configs,
    params_product,
    params_zip,
    run_from_config,
)
from blueetl_spark.operators import features as feat
from blueetl_spark.operators import timeseries as ts

CONFIG = {
    "version": 4,
    "simulation_campaign": {
        "data": [
            {"simulation_path": "/sim0", "seed": 1},
            {"simulation_path": "/sim1", "seed": 2},
        ]
    },
    "analysis": {
        "spikes": {
            "extraction": {
                "report": {"type": "spikes"},
                "neuron_classes": {
                    "EXC": {"query": {"synapse_class": ["EXC"]}},
                    "INH": {"query": {"synapse_class": ["INH"]}},
                },
                "windows": {
                    "w1": {"bounds": [0.0, 50.0]},
                    "w2": {"bounds": [0.0, 40.0], "n_trials": 2,
                           "trial_steps_value": 50.0},
                },
            },
            "features": [
                {"function": "blueetl_spark.features.by_gid"},
                {"function": "blueetl_spark.features.by_neuron_class"},
            ],
        }
    },
}


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(5)
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "circuit_id": np.zeros(60, dtype="int16"),
                "node_id": np.arange(60, dtype="int64"),
                "synapse_class": rng.choice(["EXC", "INH"], 60),
            }
        )
    )
    n = 3000
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "simulation_id": rng.integers(0, 2, n).astype("int16"),
                "gid": rng.integers(0, 60, n).astype("int64"),
                "time": rng.uniform(0, 100, n),
            }
        )
    )
    return nodes, events


def _collect_all(ma: MultiAnalyzer) -> dict[str, pd.DataFrame]:
    a = ma.spikes
    out = {n: df.toPandas() for n, df in a.extract().items()}
    out.update({f"feat_{n}": df.toPandas() for n, df in a.calculate_features().items()})
    return out


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(list(sorted(df.columns)), ignore_index=True)[
        sorted(df.columns)
    ]


def test_cold_then_warm_equivalence(spark, data, tmp_path):
    nodes, events = data
    ma_cold = run_from_config(spark, CONFIG, nodes, events, cache_path=tmp_path / "c")
    cold = _collect_all(ma_cold)
    assert len(cold["report"]) > 0
    assert set(cold) >= {"simulations", "neurons", "windows", "report",
                         "feat_by_gid", "feat_by_neuron_class"}
    # warm: new analyzer over the same cache must serve identical frames
    ma_warm = run_from_config(spark, CONFIG, nodes, events, cache_path=tmp_path / "c")
    warm = _collect_all(ma_warm)
    for name in cold:
        pd.testing.assert_frame_equal(
            _sorted(cold[name]), _sorted(warm[name]), check_dtype=False
        ), name


def test_config_change_invalidates_downstream(spark, data, tmp_path):
    import copy

    nodes, events = data
    run_from_config(spark, CONFIG, nodes, events, cache_path=tmp_path / "c")
    cfg2 = copy.deepcopy(CONFIG)
    cfg2["analysis"]["spikes"]["extraction"]["windows"]["w1"]["bounds"] = [0.0, 30.0]
    ma2 = run_from_config(spark, cfg2, nodes, events, cache_path=tmp_path / "c")
    w = ma2.spikes.windows.toPandas()
    assert w[w.window == "w1"].t_stop.iloc[0] == 30.0
    r = ma2.spikes.report.toPandas()
    assert r[r.window == "w1"].time.max() < 30.0


def test_apply_filter_in_memory(spark, data, tmp_path):
    nodes, events = data
    ma = run_from_config(spark, CONFIG, nodes, events, cache_path=tmp_path / "c")
    full_report = ma.spikes.report.toPandas()
    filtered = ma.spikes.apply_filter({"seed": 2})
    fr = filtered.report.toPandas()
    assert set(fr.simulation_id) == {1}
    # original untouched
    pd.testing.assert_frame_equal(
        _sorted(ma.spikes.report.toPandas()), _sorted(full_report), check_dtype=False
    )
    feats = filtered.calculate_features()
    assert set(feats["by_gid"].toPandas().simulation_id) == {1}


def test_no_cache_path_works(spark, data):
    nodes, events = data
    ma = MultiAnalyzer(spark, CONFIG, nodes, events)
    assert ma.spikes.report.count() > 0


def test_params_expansion():
    assert params_product({"a": [1, 2], "b": "x"}) == [
        {"a": 1, "b": "x"},
        {"a": 2, "b": "x"},
    ]
    assert params_zip({"a": [1, 2], "b": ["u", "v"]}) == [
        {"a": 1, "b": "u"},
        {"a": 2, "b": "v"},
    ]
    with pytest.raises(ValueError):
        params_zip({"a": [1, 2], "b": ["u"]})
    cfgs = expand_features_configs(
        [{"function": "f", "params": {"k": 0}, "params_product": {"s": [1, 2]}}]
    )
    assert [c["params"] for c in cfgs] == [{"k": 0, "s": 1}, {"k": 0, "s": 2}]
    assert [c["suffix"] for c in cfgs] == ["_0", "_1"]


def test_dynamic_onset_offsets(spark, data):
    import copy

    nodes, events = data
    # events cluster after t=60 for sim 0 → onset detected there
    from pyspark.sql import functions as F

    burst = events.withColumn(
        "time", F.when(F.col("time") > 60, F.col("time")).otherwise(F.col("time") + 200)
    )
    cfg = copy.deepcopy(CONFIG)
    cfg["analysis"]["spikes"]["extraction"]["windows"]["w3"] = {
        "bounds": [0.0, 20.0],
        "trial_steps": {"bounds": [0.0, 100.0], "bin_size": 1.0, "sigma": 2.0,
                        "std_multiple": 1.0, "pre_fraction": 0.3},
    }
    ma = MultiAnalyzer(spark, cfg, nodes, burst)
    w = ma.spikes.windows.toPandas()
    w3 = w[w.window == "w3"]
    assert (w3.offset > 0).all()  # onset found past the silent prefix


def test_cross_analysis_window_reference(spark, data):
    """W3: a string window ref resolves to the sibling analysis' definition."""
    from blueetl_spark.analysis import MultiAnalyzer

    nodes, events = data
    config = {
        "simulation_campaign": {"data": [{"simulation_path": "sim0"}]},
        "analysis": {
            "spikes": {
                "extraction": {
                    "neuron_classes": {"all": {"query": {}}},
                    "windows": {"w1": {"bounds": [0.0, 50.0], "n_trials": 2,
                                       "trial_steps_value": 50.0}},
                },
            },
            "soma": {
                "extraction": {
                    "neuron_classes": {"all": {"query": {}}},
                    "windows": {"w1": "spikes.extraction.windows.w1"},
                    "report": {"type": "soma"},
                },
            },
        },
    }
    ma = MultiAnalyzer(spark, config, nodes, events)
    got = ma.soma.windows.orderBy("trial").toPandas()
    assert got.trial.tolist() == [0, 1]
    assert got.t_stop.tolist() == [50.0, 50.0]
    assert got.offset.tolist() == [0.0, 50.0]


def test_circular_window_reference_raises(spark, data):
    from blueetl_spark.analysis import MultiAnalyzer
    import pytest as _pytest

    nodes, events = data
    config = {
        "simulation_campaign": {"data": [{"simulation_path": "sim0"}]},
        "analysis": {
            "a": {"extraction": {"neuron_classes": {"all": {"query": {}}},
                                  "windows": {"w": "b.extraction.windows.w"}}},
            "b": {"extraction": {"neuron_classes": {"all": {"query": {}}},
                                  "windows": {"w": "a.extraction.windows.w"}}},
        },
    }
    with _pytest.raises(ValueError, match="circular"):
        MultiAnalyzer(spark, config, nodes, events)


def test_apply_filter_pushes_circuit_ids(spark, data):
    """FilteredAnalyzer narrows circuit-grained tables to the circuits the
    surviving simulations use (reference repository.py:96-120)."""
    nodes, events = data
    # two circuits: sims 0 -> circuit A, 1 -> circuit B
    cfg = {
        "simulation_campaign": {"data": [
            {"simulation_path": "/sim0", "circuit_config": "/cA"},
            {"simulation_path": "/sim1", "circuit_config": "/cB"},
        ]},
        "analysis": {"spikes": {"extraction": {
            "neuron_classes": {"all": {"query": {}}},
            "windows": {"w1": {"bounds": [0.0, 50.0]}},
        }}},
    }
    import pyspark.sql.functions as F
    from blueetl_spark.analysis import MultiAnalyzer

    # nodes for both circuits
    nodes2 = nodes.union(
        nodes.withColumn("circuit_id", F.lit(1).cast("smallint"))
    )
    ma = MultiAnalyzer(spark, cfg, nodes2, events)
    a = ma.spikes
    assert a.neurons.select("circuit_id").distinct().count() == 2
    filtered = a.apply_filter({"simulation_id": [0]})
    assert filtered.simulations.count() == 1
    assert filtered.neurons.select("circuit_id").distinct().collect()[0][0] == 0
    assert filtered.neuron_classes.select("circuit_id").distinct().count() == 1
    assert filtered.report.select("simulation_id").distinct().count() == 1


def test_config_driven_timeseries_features(spark, data, tmp_path):
    """sessionize / quantiles reachable from the features config like any
    built-in feature (dispatch + params plumbing)."""
    import copy

    from blueetl_spark.analysis import run_from_config

    nodes, events = data
    cfg = copy.deepcopy(CONFIG)
    cfg["analysis"]["spikes"]["features"] = [
        {"function": "blueetl_spark.features.sessionize",
         "name": "sessions", "params": {"gap": 5.0}},
        {"function": "blueetl_spark.features.quantiles",
         "name": "spike_time_q", "params": {"probs": [0.5, 0.9]}},
    ]
    a = run_from_config(spark, cfg, nodes, events).spikes
    feats = a.calculate_features()
    sess = feats["sessions"].toPandas()
    assert {"gid", "session", "t_start", "t_end", "n_events",
            "duration"} <= set(sess.columns)
    assert (sess.n_events >= 1).all() and (sess.duration >= 0).all()
    q = feats["spike_time_q"].toPandas()
    assert {"neuron_class", "n", "q_0_5", "q_0_9"} <= set(q.columns)
    assert (q.q_0_5 <= q.q_0_9).all()


def test_config_names_feature_function_by_module_path(
    spark, data, tmp_path, monkeypatch
):
    """Reference parity (utils.py:146-156 import_by_string): a v4-style
    config naming a feature function by DOTTED MODULE PATH — not
    register_feature, not a blueetl_spark.features builtin — resolves via
    importlib and runs end-to-end through the analyzer."""
    import copy

    from blueetl_spark.analysis import run_from_config

    mod = tmp_path / "external_feats_cfgtest.py"
    mod.write_text(
        "import pandas as pd\n"
        "def spike_count_scaled(g, params):\n"
        "    return pd.DataFrame({'n_scaled': "
        "[len(g) * params.get('scale', 1)]})\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))

    nodes, events = data
    cfg = copy.deepcopy(CONFIG)
    cfg["analysis"]["spikes"]["features"] = [
        {
            "function": "external_feats_cfgtest.spike_count_scaled",
            "name": "scaled_counts",
            "params": {"scale": 10},
            "groupby": ["simulation_id", "circuit_id", "neuron_class", "window"],
            "schema": "simulation_id smallint, circuit_id smallint, "
            "neuron_class string, window string, n_scaled long",
        }
    ]
    a = run_from_config(spark, cfg, nodes, events).spikes
    feats = a.calculate_features()
    got = feats["scaled_counts"].toPandas()
    assert (got.n_scaled > 0).all() and (got.n_scaled % 10 == 0).all()
    # cross-check against the report itself
    total = got.n_scaled.sum() / 10
    assert total == a.report.count()


def _register_test_features() -> None:
    """Defined inside a function, so the Python workers get them by value
    (this test module is not importable there)."""

    @feat.register_feature("test_analysis_spike_count")
    def spike_count(g: pd.DataFrame, params: dict) -> pd.DataFrame:
        return pd.DataFrame({"n_spikes": [len(g)]})

    @feat.register_feature("test_analysis_fails")
    def fails(g: pd.DataFrame, params: dict) -> pd.DataFrame:
        raise RuntimeError("feature exploded")


_register_test_features()


SPIKE_COUNT = {
    "function": "test_analysis_spike_count",
    "schema": "simulation_id smallint, circuit_id smallint, "
    "neuron_class string, window string, n_spikes long",
}
BUILTINS = [
    {"function": "blueetl_spark.features.isi_stats"},
    {"function": "blueetl_spark.features.histogram", "params": {"bin_size": 5.0}},
    {"function": "blueetl_spark.features.latency"},
]
# reference-style multi feature: by_gid, by_gid_and_trial (array column
# ``times``), by_neuron_class, by_neuron_class_and_trial, histograms
BNAC_MULTI = {
    "type": "multi",
    "function": "blueetl_spark.compat.bnac.calculate_features.calculate_features_multi",
    "params": {"export_all_neurons": True},
}


def _with_features(features: list[dict], **top) -> dict:
    import copy

    cfg = copy.deepcopy(CONFIG)
    cfg["analysis"]["spikes"]["features"] = copy.deepcopy(features)
    return {**cfg, **top}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns and rows in a fixed order; list cells as tuples."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            df[c] = df[c].map(tuple)
    return df.sort_values(list(df.columns), ignore_index=True)


def _assert_same_tables(got: dict, exp: dict) -> None:
    assert set(got) == set(exp)
    for name in exp:
        assert got[name].schema.simpleString() == exp[name].schema.simpleString(), name
        pd.testing.assert_frame_equal(
            _canon(got[name].toPandas()), _canon(exp[name].toPandas()),
            check_dtype=False,
        )


@pytest.fixture(scope="module")
def cold_cached(spark, data, tmp_path_factory):
    """(uncached features, cold cached features, cache dir) of one config
    with a multi feature, built-ins and an ``applyInPandas`` feature."""
    nodes, events = data
    cfg = _with_features([BNAC_MULTI, *BUILTINS, SPIKE_COUNT])
    cache = tmp_path_factory.mktemp("cold") / "c"
    uncached = MultiAnalyzer(spark, cfg, nodes, events).spikes.calculate_features()
    cached = MultiAnalyzer(
        spark, cfg, nodes, events, cache_path=cache
    ).spikes.calculate_features()
    return uncached, cached, cache / "spikes"


def test_cold_cached_features_equal_uncached(cold_cached):
    uncached, cached, _ = cold_cached
    assert len(cached) == 9
    _assert_same_tables(cached, uncached)


def test_cached_tables_load_with_the_inferred_schema(spark, cold_cached):
    """The schema pinned at dump time is exactly what inference reads back,
    for every table of a cold run (array columns included)."""
    from blueetl_spark.plans.cache import CacheManager

    _, cached, cache_dir = cold_cached
    cache = CacheManager(spark, cache_dir, readonly=True)
    names = [p.name[: -len(".meta.json")] for p in cache_dir.glob("*.meta.json")]
    assert {"simulations", "report", "features_by_gid_and_trial"} <= set(names)
    times = cache.load("features_by_gid_and_trial").schema["times"]
    assert times.dataType.typeName() == "array"
    for name in names:
        inferred = spark.read.parquet(str(cache_dir / f"{name}.parquet"))
        assert cache.load(name).schema == inferred.schema, name


def test_failing_feature_raises_after_the_others_finish(spark, data, tmp_path):
    nodes, events = data
    cfg = _with_features([{**SPIKE_COUNT, "function": "test_analysis_fails",
                           "name": "broken"}, *BUILTINS, SPIKE_COUNT])
    a = MultiAnalyzer(spark, cfg, nodes, events, cache_path=tmp_path / "c").spikes
    a.extract()
    with pytest.raises(Exception, match="feature exploded"):
        a.calculate_features()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    cache_dir = tmp_path / "c" / "spikes"
    assert not [p.name for p in cache_dir.iterdir() if p.name.startswith(".")]
    assert not (cache_dir / "features_broken.meta.json").exists()
    # the independent tables were published and serve the next run
    for key in ("isi_stats", "histogram", "latency", "test_analysis_spike_count"):
        assert (cache_dir / f"features_{key}.meta.json").exists(), key


def test_same_feature_key_last_config_wins(spark, data, tmp_path):
    nodes, events = data
    cfg = _with_features([
        {"function": "blueetl_spark.features.by_gid", "name": "dup"},
        {"function": "blueetl_spark.features.by_neuron_class", "name": "dup"},
    ])
    uncached = MultiAnalyzer(spark, cfg, nodes, events).spikes.calculate_features()
    assert "mean_of_mean_firing_rates_per_second" in uncached["dup"].columns
    for _ in ("cold", "warm"):
        cached = MultiAnalyzer(
            spark, cfg, nodes, events, cache_path=tmp_path / "c"
        ).spikes.calculate_features()
        _assert_same_tables(cached, uncached)


def test_feature_jobs_carry_the_callers_job_group(spark, data, tmp_path, count_jobs):
    nodes, events = data
    cfg = _with_features([*BUILTINS, SPIKE_COUNT])
    a = MultiAnalyzer(spark, cfg, nodes, events, cache_path=tmp_path / "c").spikes
    a.extract()
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    feats, jobs = count_jobs(a.calculate_features)
    assert jobs >= len(feats) == 4
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_cold_cached_windows_keep_time_bounds(spark, data, tmp_path, count_jobs):
    from blueetl_spark.operators.windows import time_bounds_filter

    nodes, events = data
    a = MultiAnalyzer(spark, CONFIG, nodes, events, cache_path=tmp_path / "c").spikes
    windows = a.windows
    _, jobs = count_jobs(lambda: time_bounds_filter(windows))
    assert jobs == 0


def test_warm_cached_windows_keep_time_bounds(spark, data, tmp_path, count_jobs):
    """A windows cache hit, through an equal filter or a subfilter, still
    carries the bounds recorded at dump time."""
    from blueetl_spark.operators.windows import time_bounds_filter

    nodes, events = data
    cache = tmp_path / "c"
    cold = MultiAnalyzer(spark, CONFIG, nodes, events, cache_path=cache).spikes.windows
    meta = cache / "spikes" / "windows.meta.json"
    dumped = json.loads(meta.read_text())
    for cfg in (CONFIG, {**CONFIG, "simulations_filter": {"seed": 2}}):
        windows = MultiAnalyzer(spark, cfg, nodes, events, cache_path=cache).spikes.windows
        assert windows._blueetl_time_bounds == cold._blueetl_time_bounds
        _, jobs = count_jobs(lambda: time_bounds_filter(windows))
        assert jobs == 0
    assert json.loads(meta.read_text()) == dumped  # both were cache hits


def test_warm_requery_jobs_do_not_grow_with_features(spark, data, tmp_path, count_jobs):
    """Job budget of a re-query through a coordinate subfilter: the
    surviving ids are resolved once, whatever the number of features."""
    nodes, events = data
    features = [
        {"function": "blueetl_spark.features.by_gid"},
        {"function": "blueetl_spark.features.by_neuron_class"},
        *BUILTINS,
    ]
    jobs = {}
    for n in (2, 5):
        cache = tmp_path / str(n)
        run_from_config(spark, _with_features(features[:n]), nodes, events,
                        cache_path=cache)
        requery = MultiAnalyzer(
            spark, _with_features(features[:n], simulations_filter={"seed": 2}),
            nodes, events, cache_path=cache,
        ).spikes
        feats, jobs[n] = count_jobs(requery.calculate_features)
        assert len(feats) == n
        assert set(feats["by_gid"].toPandas().simulation_id) == {1}
    assert jobs[2] == jobs[5]


def test_cold_campaign_job_budget(spark, data, tmp_path, count_jobs, monkeypatch):
    """Job budget of a cold cached run and its re-query: the config-sized
    tables are driver-resident, so the windows step runs at most its cache
    write, ``apply_filter`` and a coordinate-subfilter fetch run none, and
    the report's events scan keeps only the selected simulations."""
    from pyspark.sql import functions as F

    from blueetl_spark.plans.cache import CacheManager

    nodes, events = data
    # four simulations, two of them selected (an IN list, not an equality)
    events.withColumn("simulation_id", (F.col("simulation_id") * 2 + F.col("gid") % 2)
                      .cast("smallint")).write.parquet(str(tmp_path / "events"))
    events4 = spark.read.parquet(str(tmp_path / "events"))
    cfg = _with_features(
        [{"function": "blueetl_spark.features.by_gid"}, *BUILTINS],
        simulations_filter={"seed": [1, 3]},
    )
    cfg["simulation_campaign"] = {
        "data": [{"simulation_path": f"/sim{i}", "seed": i} for i in range(4)]
    }
    plans = {}
    dump = CacheManager.dump

    def recording_dump(self, name, df, *args, **kwargs):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return dump(self, name, df, *args, **kwargs)

    monkeypatch.setattr(CacheManager, "dump", recording_dump)
    cache = tmp_path / "c"
    a = MultiAnalyzer(spark, cfg, nodes, events4, cache_path=cache).spikes
    a.simulations
    _, windows_jobs = count_jobs(lambda: a.windows)
    assert windows_jobs <= 1
    a.calculate_features()
    scan = next(line for line in plans["report"].splitlines() if "PushedFilters" in line)
    assert "In(simulation_id, [1,3])" in scan

    requery = MultiAnalyzer(
        spark, {**cfg, "simulations_filter": {"seed": [3]}}, nodes, events4,
        cache_path=cache,
    ).spikes
    view, filter_jobs = count_jobs(lambda: requery.apply_filter({"seed": [3]}))
    feats, fetch_jobs = count_jobs(requery.calculate_features)
    assert filter_jobs == fetch_jobs == 0
    assert set(view.calculate_features()["by_gid"].toPandas().simulation_id) == {3}
    assert set(feats["latency"].toPandas().simulation_id) == {3}


def _degenerate_config(case: str) -> dict:
    import copy

    cfg = copy.deepcopy(CONFIG)
    spikes = cfg["analysis"]["spikes"]
    spikes["features"] = copy.deepcopy([BNAC_MULTI, *BUILTINS])
    windows = spikes["extraction"]["windows"]
    if case == "empty_filter":
        cfg["simulations_filter"] = {"seed": 99}
    elif case == "window_ref":
        cfg["analysis"]["other"] = {"extraction": {
            "neuron_classes": {"all": {"query": {}}},
            "windows": {"w1": {"bounds": [10.0, 30.0], "n_trials": 2,
                               "trial_steps_value": 30.0}},
        }}
        windows["w3"] = "other.extraction.windows.w1"
    elif case == "onset":
        windows["w3"] = {
            "bounds": [0.0, 20.0],
            "trial_steps": {"bounds": [0.0, 100.0], "bin_size": 1.0, "sigma": 2.0,
                            "std_multiple": 1.0, "pre_fraction": 0.3},
        }
    elif case == "conditions":
        cfg["simulation_campaign"]["data"] = [
            {"simulation_path": "/sim0", "seed": 1, "flag": True, "label": "a",
             "opt": None},
            {"simulation_path": "/sim1", "seed": 2, "flag": False, "label": None,
             "opt": 1.5},
        ]
        cfg["simulations_filter"] = {"flag": True}
    return cfg


@pytest.mark.parametrize("case", ["empty_filter", "window_ref", "onset", "conditions"])
def test_degenerate_campaigns_match_uncached(spark, data, tmp_path, case):
    """Driver-resident tables served from the cache, and from a readonly
    cache, equal the uncached run in rows and schema: a filter selecting no
    simulation, a window copied from another analysis, an onset window, and
    bool, string and null campaign condition values."""
    nodes, events = data
    cfg = _degenerate_config(case)

    def tables(**kwargs) -> dict:
        a = MultiAnalyzer(spark, cfg, nodes, events, **kwargs).spikes
        return {**a.extract(), **{f"features_{k}": v
                                  for k, v in a.calculate_features().items()}}

    uncached = tables()
    assert (uncached["simulations"].count() == 0) == (case == "empty_filter")
    _assert_same_tables(tables(cache_path=tmp_path / "c"), uncached)
    _assert_same_tables(
        tables(cache_path=tmp_path / "c", readonly_cache=True), uncached
    )


# Each built-in's direct operator call with the defaults of its
# ``features.BUILTINS`` row (sessionize has no default gap: the configs
# below pass ``gap: 5.0``).
DIRECT_CALLS = {
    "by_gid": lambda r, w, c: feat.by_gid(r, w),
    "by_gid_and_trial": lambda r, w, c: feat.by_gid_and_trial(r),
    "by_neuron_class": lambda r, w, c: feat.by_neuron_class(r, w, c),
    "by_neuron_class_and_trial": (
        lambda r, w, c: feat.by_neuron_class_and_trial(r, c, windows=w)
    ),
    "histogram": lambda r, w, c: feat.histogram(r, w, c, bin_size=1.0),
    "isi_stats": lambda r, w, c: feat.isi_stats(r),
    "latency": lambda r, w, c: feat.latency(r, w),
    "sessionize": lambda r, w, c: ts.sessionize(
        r, gap=5.0, by=["simulation_id", "window", "gid"]
    ),
    "quantiles": lambda r, w, c: ts.group_quantiles(
        r, "time", ["simulation_id", "window", "neuron_class"],
        probs=(0.5, 0.9, 0.99), exact=True,
    ),
}


@pytest.fixture(scope="module")
def builtin_tables(spark, data, tmp_path_factory):
    """(uncached, cold cached, direct) tables of every built-in, each
    addressed by config with its default parameters."""
    nodes, events = data
    cfg = _with_features([
        {"function": f, **({"params": {"gap": 5.0}} if f.endswith("sessionize") else {})}
        for f in feat.BUILTINS
    ])
    a = MultiAnalyzer(spark, cfg, nodes, events).spikes
    uncached = a.calculate_features()
    cached = MultiAnalyzer(
        spark, cfg, nodes, events, cache_path=tmp_path_factory.mktemp("builtins")
    ).spikes.calculate_features()
    counts = a.neuron_classes.select("circuit_id", "neuron_class", "count")
    direct = {n: call(a.report, a.windows, counts) for n, call in DIRECT_CALLS.items()}
    return uncached, cached, direct


@pytest.mark.parametrize("function", sorted(feat.BUILTINS))
def test_builtin_config_path_equals_direct_call(builtin_tables, function):
    uncached, cached, direct = builtin_tables
    name = function.rsplit(".", 1)[-1]
    assert name in DIRECT_CALLS and len(DIRECT_CALLS) == len(feat.BUILTINS)
    _assert_same_tables({name: uncached[name]}, {name: direct[name]})
    _assert_same_tables({name: cached[name]}, {name: direct[name]})


def test_unknown_builtin_raises_key_error_naming_it(spark, data):
    nodes, events = data
    cfg = _with_features([{"function": "blueetl_spark.features.nope"}])
    a = MultiAnalyzer(spark, cfg, nodes, events).spikes
    with pytest.raises(KeyError, match="blueetl_spark.features.nope"):
        a.calculate_features()
