"""Windows materialization + event slicing, cross-checked against a plain
pandas reimplementation (the reference's unit-test style, SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from blueetl_spark.operators.windows import (
    materialize_windows,
    slice_events,
    time_bounds_filter,
    validate_windows,
)

WINDOWS_CONFIG = {
    "w1": {"bounds": [20.0, 90.0], "window_type": "spontaneous"},
    "w2": {
        "bounds": [10.0, 70.0],
        "initial_offset": 10.0,
        "n_trials": 3,
        "trial_steps_value": 100.0,
    },
    "w3": {"bounds": [0.0, 50.0], "trial_steps_list": [0.0, 25.0]},
}


@pytest.fixture(scope="module")
def sims(spark):
    return spark.createDataFrame(
        [(0, 0, "/sim0"), (1, 0, "/sim1")],
        "simulation_id smallint, circuit_id smallint, simulation_path string",
    )


@pytest.fixture(scope="module")
def windows(spark, sims):
    return materialize_windows(spark, WINDOWS_CONFIG, sims).cache()


def test_materialize_shape(windows):
    pdf = windows.toPandas()
    # per simulation: w1 ×1, w2 ×3, w3 ×2 trials = 6 rows; 2 sims = 12
    assert len(pdf) == 12
    w2 = pdf[(pdf.window == "w2") & (pdf.simulation_id == 0)].sort_values("trial")
    assert list(w2.offset) == [10.0, 110.0, 210.0]
    assert list(w2.trial) == [0, 1, 2]
    assert (w2.duration == 60.0).all()
    w3 = pdf[(pdf.window == "w3") & (pdf.simulation_id == 1)].sort_values("trial")
    assert list(w3.offset) == [0.0, 25.0]


def test_materialize_validates(windows):
    validate_windows(windows)  # should not raise


def test_dynamic_offsets(spark, sims):
    w = materialize_windows(
        spark, {"w": {"bounds": [0.0, 10.0]}}, sims, dynamic_offsets={1: 42.0}
    ).toPandas()
    assert w[w.simulation_id == 0].offset.iloc[0] == 0.0
    assert w[w.simulation_id == 1].offset.iloc[0] == 42.0


def _pandas_slice(events: pd.DataFrame, windows: pd.DataFrame) -> pd.DataFrame:
    out = []
    for w in windows.itertuples():
        lo, hi = w.offset + w.t_start, w.offset + w.t_stop
        m = events[
            (events.simulation_id == w.simulation_id)
            & (events.time >= lo)
            & (events.time < hi)
        ].copy()
        m["time"] = m["time"] - w.offset
        m["window"] = w.window
        m["trial"] = w.trial
        out.append(m)
    return pd.concat(out, ignore_index=True)


def test_slice_events_matches_pandas(spark, windows):
    rng = np.random.default_rng(7)
    n = 2000
    events_pdf = pd.DataFrame(
        {
            "simulation_id": rng.integers(0, 2, n).astype("int16"),
            "gid": rng.integers(0, 50, n).astype("int64"),
            "time": rng.uniform(0, 400, n),
        }
    )
    events = spark.createDataFrame(events_pdf)
    got = (
        slice_events(events, windows)
        .toPandas()
        .sort_values(["simulation_id", "window", "trial", "gid", "time"])
        .reset_index(drop=True)[["simulation_id", "gid", "time", "window", "trial"]]
    )
    exp = (
        _pandas_slice(events_pdf, windows.toPandas())
        .sort_values(["simulation_id", "window", "trial", "gid", "time"])
        .reset_index(drop=True)[["simulation_id", "gid", "time", "window", "trial"]]
    )
    exp["trial"] = exp["trial"].astype("int16")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # overlapping trials duplicate events (w2 trials don't overlap here, but
    # w3's two trials do: [0,50) and [25,75))
    dup = got[(got.window == "w3")]
    assert len(dup) > 0


def test_time_bounds_filter(spark, windows):
    pred = time_bounds_filter(windows)
    df = spark.createDataFrame([(5.0,), (100.0,), (400.0,)], "time double")
    kept = df.filter(pred).collect()
    # global envelope: min lo = 0.0 (w3), max hi = 280.0 (w2 trial 2)
    assert sorted(r.time for r in kept) == [5.0, 100.0]


def test_slice_broadcast_plan(spark, windows):
    events = spark.createDataFrame(
        [(0, 1, 30.0)], "simulation_id smallint, gid bigint, time double"
    )
    plan = slice_events(events, windows)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
