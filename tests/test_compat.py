"""Reference feature-module compat shims: a verbatim-shaped v4 config
(mirroring the reference functional configs' themes) must run end-to-end
through the dotted path with NO register_feature call, and every shim's
Spark builder must agree with its per-group pandas twin."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from blueetl_spark.analysis import run_from_config

# mirrors /root/reference/tests/functional/data/bbp/config/
# analysis_config_01.yaml: type multi + reference groupby + dotted path
# + params — only the namespace is renamed to this repo's
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
                {
                    "type": "multi",
                    "groupby": [
                        "simulation_id", "circuit_id", "neuron_class", "window"
                    ],
                    "function": (
                        "blueetl_spark.compat.bnac.calculate_features"
                        ".calculate_features_multi"
                    ),
                    "params": {"export_all_neurons": True},
                },
            ],
        }
    },
}

BNAC_OUTPUTS = {
    "by_gid", "by_gid_and_trial", "by_neuron_class",
    "by_neuron_class_and_trial", "histograms",
}


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.default_rng(7)
    nodes = spark.createDataFrame(
        pd.DataFrame(
            {
                "circuit_id": np.zeros(40, dtype="int16"),
                "node_id": np.arange(40, dtype="int64"),
                "synapse_class": rng.choice(["EXC", "INH"], 40),
            }
        )
    )
    n = 2000
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "simulation_id": rng.integers(0, 2, n).astype("int16"),
                "gid": rng.integers(0, 40, n).astype("int64"),
                "time": rng.uniform(0, 100, n),
            }
        )
    )
    return nodes, events


@pytest.fixture(scope="module")
def analyzer(spark, data):
    nodes, events = data
    return run_from_config(spark, CONFIG, nodes, events).spikes


def _cmp(df_a, df_b, sort_cols, float_rtol=1e-9):
    """Row-for-row equality after sorting on the (unique) key columns;
    floats via allclose with NaN==NaN, arrays element-wise."""
    a = df_a.toPandas()
    b = df_b.toPandas()
    assert sorted(a.columns) == sorted(b.columns), (a.columns, b.columns)
    cols = sorted(a.columns)
    a = a.sort_values(sort_cols, ignore_index=True)[cols]
    b = b.sort_values(sort_cols, ignore_index=True)[cols]
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            np.testing.assert_allclose(
                av.astype(float), bv.astype(float),
                rtol=float_rtol, atol=1e-12, equal_nan=True, err_msg=c,
            )
        elif len(av) and isinstance(av[0], (list, np.ndarray)):
            for x, y in zip(av, bv):
                np.testing.assert_allclose(
                    np.asarray(x, float), np.asarray(y, float),
                    rtol=float_rtol, err_msg=c,
                )
        else:
            assert list(av) == list(bv), c


def test_bnac_config_runs_end_to_end(analyzer):
    feats = analyzer.calculate_features()
    assert set(feats) == BNAC_OUTPUTS
    bg = feats["by_gid"].toPandas()
    assert {"first_spike_time_means_cort_zeroed", "mean_spike_counts",
            "mean_firing_rates_per_second"} <= set(bg.columns)
    assert len(bg) > 0 and (bg["mean_firing_rates_per_second"] > 0).all()
    h = feats["histograms"].toPandas()
    assert h["spike_times_max_normalised_hist_1ms_bin"].max() == pytest.approx(1.0)
    bnc = feats["by_neuron_class"].toPandas()
    assert len(bnc) == bnc[
        ["simulation_id", "circuit_id", "neuron_class", "window"]
    ].drop_duplicates().shape[0]


def test_bnac_builder_matches_pandas_twin(analyzer):
    from blueetl_spark.compat.bnac import calculate_features as CF
    from blueetl_spark.operators import features as feat

    counts = analyzer.neuron_classes.select("circuit_id", "neuron_class", "count")
    built = CF.calculate_features_multi.spark_builder(
        analyzer.report, analyzer.windows, counts, {}
    )
    generic = feat.apply_feature_multi(
        analyzer.report,
        feat.GROUP_KEYS,
        CF.calculate_features_multi,
        CF.OUTPUT_SCHEMAS,
        params={},
        repo=analyzer._compat_repo(),
    )
    keys = feat.GROUP_KEYS
    _cmp(built["by_gid"], generic["by_gid"], [*keys, "gid"])
    _cmp(built["by_gid_and_trial"], generic["by_gid_and_trial"],
         [*keys, "gid", "trial"])
    _cmp(built["by_neuron_class"], generic["by_neuron_class"], keys,
         float_rtol=1e-6)
    _cmp(built["by_neuron_class_and_trial"],
         generic["by_neuron_class_and_trial"], [*keys, "trial"])
    _cmp(built["histograms"], generic["histograms"], [*keys, "bin"],
         float_rtol=1e-6)


def test_bluecv_gid_parity(analyzer):
    from blueetl_spark.compat.bluecv import gid as G
    from blueetl_spark.operators import features as feat

    counts = analyzer.neuron_classes.select("circuit_id", "neuron_class", "count")
    params = {"MFR": {}, "ISI": {}, "CV": {}, "LV": {},
              "latency": {}, "spike_count": {}}
    built = G.calculate_features_by_gid.spark_builder(
        analyzer.report, analyzer.windows, counts, params
    )
    generic = feat.apply_feature_multi(
        analyzer.report,
        feat.GROUP_KEYS,
        G.calculate_features_by_gid,
        G.output_schemas(params),
        params=params,
        repo=analyzer._compat_repo(),
    )
    _cmp(built["by_gid"], generic["by_gid"], [*feat.GROUP_KEYS, "gid"],
         float_rtol=1e-7)


def test_bluecv_neuron_class_parity(analyzer):
    from blueetl_spark.compat.bluecv import neuron_class as NC
    from blueetl_spark.operators import features as feat

    counts = analyzer.neuron_classes.select("circuit_id", "neuron_class", "count")
    params = {"PSTH": {"params": {"bin_size": 10.0}},
              "CPDF": {"params": {"bin_size": 10.0}},
              "PSD": {"params": {"bin_size": 1.0, "nperseg": 32}},
              "AC": {"params": {"bin_size": 5.0}}}
    built = NC.calculate_features_by_neuron_class.spark_builder(
        analyzer.report, analyzer.windows, counts, params
    )
    generic = feat.apply_feature_multi(
        analyzer.report,
        feat.GROUP_KEYS,
        NC.calculate_features_by_neuron_class,
        NC.output_schemas(params),
        params=params,
        repo=analyzer._compat_repo(),
    )
    keys = feat.GROUP_KEYS
    _cmp(built["psth"], generic["psth"], [*keys, "bin"])
    _cmp(built["complexity_pdf"], generic["complexity_pdf"],
         [*keys, "complexity"])
    _cmp(built["psd"], generic["psd"], [*keys, "freq"], float_rtol=1e-7)
    _cmp(built["ac"], generic["ac"], [*keys, "gid_a", "gid_b"],
         float_rtol=1e-7)


def test_compat_repo_of_a_cached_analyzer_runs_no_job(
    spark, data, analyzer, tmp_path, count_jobs
):
    """The repo stand-in is built on the driver from the driver-resident
    tables a cache serves, and carries the per-window meta of a Spark
    aggregation of the windows table."""
    from pyspark.sql import functions as F

    nodes, events = data
    cached = run_from_config(
        spark, CONFIG, nodes, events, cache_path=tmp_path / "c", calculate=False
    ).spikes
    repo, jobs = count_jobs(cached._compat_repo)
    assert jobs == 0
    agg = analyzer.windows.groupBy("window").agg(
        *[F.first(c).alias(c) for c in ("t_start", "t_stop", "duration")],
        F.countDistinct("trial").alias("n_trials"),
    )
    expected = {r.window: r.asDict() for r in agg.collect()}
    for m in expected.values():
        del m["window"]
    assert repo.windows._meta == expected == analyzer._compat_repo().windows._meta
    assert repo._counts == analyzer._compat_repo()._counts


def test_compat_repo_rejects_bounds_that_differ_across_simulations(spark):
    from blueetl_spark.compat import CompatRepo
    from blueetl_spark.operators.windows import windows_table

    # (simulation_id, circuit_id, window, trial, offset, t_start, t_stop,
    #  t_step, duration, window_type): w1 stops at 50 in one simulation
    # and at 60 in the other
    windows = windows_table(spark, [
        (0, 0, "w1", 0, 0.0, 0.0, 50.0, 0.0, 50.0, None),
        (1, 0, "w1", 0, 0.0, 0.0, 60.0, 0.0, 60.0, None),
    ])
    counts = spark.createDataFrame(
        [(0, "EXC", 3)], "circuit_id smallint, neuron_class string, count long"
    )
    with pytest.raises(ValueError, match="'w1' has non-uniform bounds"):
        CompatRepo.from_frames(windows, counts)


def test_soma_parity(spark):
    from blueetl_spark.compat.soma import calculate_features as SF
    from blueetl_spark.operators import features as feat

    rng = np.random.default_rng(3)
    n = 600
    report = spark.createDataFrame(
        pd.DataFrame(
            {
                "simulation_id": rng.integers(0, 2, n).astype("int16"),
                "circuit_id": np.zeros(n, dtype="int16"),
                "neuron_class": rng.choice(["EXC", "INH"], n),
                "window": rng.choice(["w1", "w2"], n),
                "gid": rng.integers(0, 20, n).astype("int64"),
                "time": rng.uniform(0, 50, n),
                "value": rng.normal(size=n),
            }
        )
    )
    built = SF.calculate_features_by_simulation_circuit.spark_builder(
        report, None, None, {}
    )
    generic = feat.apply_feature_multi(
        report,
        SF.GROUPBY,
        SF.calculate_features_by_simulation_circuit,
        SF.OUTPUT_SCHEMAS,
        params={},
        repo=None,
    )
    _cmp(built["by_neuron_class"], generic["by_neuron_class"],
         ["simulation_id", "circuit_id", "neuron_class", "window"],
         float_rtol=1e-9)


def test_bluecv_comparison_kernels():
    from blueetl_spark.compat.bluecv.comparison import get_VP, get_VR

    a = [10.0, 20.0, 30.0]
    b = [12.0, 24.0]
    assert get_VR(a, a) == pytest.approx(0.0, abs=1e-9)
    assert get_VR(a, b) > 0
    # VP with huge shift cost degenerates to deletion+insertion count
    assert get_VP(a, b, q=1e9) == pytest.approx(5.0)
    assert get_VP(a, a) == pytest.approx(0.0, abs=1e-9)


def test_onset_from_spikes_reference_params(spark):
    """The direct reference call shape and the distributed detect_onsets
    path agree on a synthetic clear-onset train, with the reference's
    own parameter names."""
    from blueetl_spark.compat.bnac.calculate_trial_step import onset_from_spikes
    from blueetl_spark.operators.onset import detect_onsets

    rng = np.random.default_rng(11)
    # sparse background before 0, burst starting at t=12
    pre = rng.uniform(-50.0, 0.0, 30)
    post = rng.uniform(12.0, 20.0, 400)
    times = np.concatenate([pre, post])
    params = {
        "bounds": [-50.0, 25.0],
        "histo_bins_per_ms": 5,
        "smoothing_width": 4.0,
        "threshold_std_multiple": 4.0,
        "ms_post_offset": 0.25,
    }
    onset = onset_from_spikes([times], params)
    assert 10.0 < onset < 14.0

    events = spark.createDataFrame(
        pd.DataFrame({"simulation_id": np.zeros(len(times), dtype="int16"),
                      "time": times})
    )
    sims = spark.createDataFrame(
        pd.DataFrame({"simulation_id": np.array([0], dtype="int16")})
    )
    offsets = detect_onsets(events, sims, params)
    assert offsets[0] == pytest.approx(onset)


def test_multi_feature_cache_roundtrip(spark, data, tmp_path):
    nodes, events = data
    cold = run_from_config(
        spark, CONFIG, nodes, events, cache_path=tmp_path / "c"
    ).spikes.calculate_features()
    warm = run_from_config(
        spark, CONFIG, nodes, events, cache_path=tmp_path / "c"
    ).spikes.calculate_features()
    assert set(cold) == set(warm) == BNAC_OUTPUTS
    for name in cold:
        a = cold[name].toPandas()
        b = warm[name].toPandas()
        cols = sorted(a.columns)
        sort_cols = [c for c in cols if c != "times"]  # list col unsortable
        pd.testing.assert_frame_equal(
            a[cols].sort_values(sort_cols, ignore_index=True),
            b[cols].sort_values(sort_cols, ignore_index=True),
            check_dtype=False,
        )


def test_compat_config_passes_validate_config():
    """The reference-style multi-feature YAML (and the reference-named
    trial-steps dialect) must pass the engine's jsonschema validation."""
    import copy

    from blueetl_spark.validation import ValidationError, validate_config

    validate_config(CONFIG)
    cfg = copy.deepcopy(CONFIG)
    cfg["analysis"]["spikes"]["extraction"]["windows"]["w3"] = {
        "bounds": [0.0, 30.0],
        "trial_steps": {
            "function": (
                "blueetl_spark.compat.bnac.calculate_trial_step"
                ".onset_from_spikes"
            ),
            "bounds": [-50.0, 25.0],
            "histo_bins_per_ms": 5,
            "smoothing_width": 4.0,
            "threshold_std_multiple": 4.0,
            "ms_post_offset": 0.25,
        },
    }
    validate_config(cfg)
    bad = copy.deepcopy(CONFIG)
    bad["analysis"]["spikes"]["features"][0]["schemas"] = {"by_gid": 1}
    import pytest as _pytest

    with _pytest.raises(ValidationError):
        validate_config(bad)
