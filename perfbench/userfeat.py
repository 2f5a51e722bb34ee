"""The benchmark's user feature, resolved by dotted path from the analysis
config and run per group through ``applyInPandas``."""

from __future__ import annotations

import numpy as np
import pandas as pd


def spike_time_stats(pdf: pd.DataFrame, params: dict) -> pd.DataFrame:
    """Spike count, distinct gids, mean and 90th-percentile spike time."""
    t = np.sort(pdf["time"].to_numpy())
    return pd.DataFrame({
        "n_spikes": [len(t)],
        "n_gids": [pdf["gid"].nunique()],
        "mean_time": [float(t.mean()) if len(t) else float("nan")],
        "p90_time": [float(np.percentile(t, 90)) if len(t) else float("nan")],
    })
