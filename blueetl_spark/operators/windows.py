"""Time-window materialization and event slicing.

The reference materializes a windows table from config — one row per
(simulation, window, trial) with ``offset = initial_offset + dynamic_offset
+ step_offset`` (``/root/reference/src/blueetl/extract/windows.py:165-269``)
— then slices each report's events to ``offset + t_start <= time <
offset + t_stop`` and re-bases ``time -= offset``
(``extract/spikes.py:22-29``, ``extract/report.py:44-58``). An event landing
in several overlapping trials is duplicated into each.

Spark-first design:

- Window definitions are config-sized (a handful of rows per simulation), so
  trial expansion and the cross with the simulation rows happen on the
  driver, into one driver-resident ``LocalRelation`` (``session.local_df``):
  building, validating and aggregating the table runs no Spark job.
- Slicing is an **interval join**: equality on ``simulation_id`` plus two
  range predicates. The windows side is always broadcast, so at 100 TB the
  plan is a broadcast hash join on the equi key with the range conditions
  as join filters — no shuffle of the event table, no cartesian blowup, and
  the time-range predicate is additionally usable for parquet row-group
  pruning when pushed ahead of the join via :func:`time_bounds_filter`.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blueetl_spark.session import local_df

from blueetl_spark import schemas

WindowsConfig = dict[str, dict[str, Any]]


def _expand_window(name: str, cfg: dict[str, Any]) -> list[dict[str, Any]]:
    """Expand one window config into per-trial rows (driver-side; tiny)."""
    t_start, t_stop = map(float, cfg["bounds"])
    initial_offset = float(cfg.get("initial_offset", 0.0))
    n_trials = int(cfg.get("n_trials", 1))
    steps_list = cfg.get("trial_steps_list")
    step_value = float(cfg.get("trial_steps_value", 0.0))
    if steps_list is not None:
        step_offsets = [float(s) for s in steps_list]
    else:
        step_offsets = [step_value * i for i in range(max(n_trials, 1))]
    rows = []
    for trial, step_offset in enumerate(step_offsets):
        rows.append(
            {
                "window": name,
                "trial": trial,
                "initial_offset": initial_offset,
                "step_offset": step_offset,
                "t_start": t_start,
                "t_stop": t_stop,
                "t_step": float(cfg.get("t_step", 0.0)),
                "duration": t_stop - t_start,
                "window_type": str(cfg.get("window_type", "")),
            }
        )
    return rows


#: the windows table's columns and types, every column nullable (as the
#: columns derived from the simulations table are)
_WINDOWS_TYPES = T.StructType(
    [T.StructField(f.name, f.dataType) for f in schemas.WINDOWS_SCHEMA.fields]
)


def windows_table(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Driver-resident windows frame over ``rows`` (tuples in
    ``WINDOWS_SCHEMA`` column order).

    The frame carries its global time envelope, the least
    ``offset + t_start`` and the greatest ``offset + t_stop`` over the rows,
    so :func:`time_bounds_filter` builds the scan predicate without a job.
    An empty table carries none.
    """
    out = local_df(spark, rows, _WINDOWS_TYPES)
    if rows:
        out._blueetl_time_bounds = (
            min(r[4] + r[5] for r in rows),
            max(r[4] + r[6] for r in rows),
        )
    return out


def materialize_windows(
    spark: SparkSession,
    windows_config: WindowsConfig,
    simulations: DataFrame,
    dynamic_offsets: dict[int, float] | None = None,
    dynamic_windows: list[str] | None = None,
) -> DataFrame:
    """Build the windows table: one row per (simulation, window, trial).

    The rows are built on the driver, from the simulations table's rows
    (a collect that runs no job when that table is driver-resident, as the
    analysis pipeline's is) crossed with the expanded window definitions.

    ``dynamic_offsets`` maps simulation_id → extra offset (the output of
    onset detection, reference ``extract/windows.py:78-111``); omitted
    simulations get 0. ``dynamic_windows`` names the windows the offset
    applies to — the reference sets ``dynamic_offset = 0`` for windows
    without a ``trial_steps`` config (``extract/windows.py:181-209``), so
    a fixed window next to an onset window must NOT shift. ``None``
    applies the offset to every window (single-window configs / the
    standalone onset query).
    """
    defs: list[dict[str, Any]] = []
    for name, cfg in windows_config.items():
        defs.extend(_expand_window(name, cfg))
    sims = dict.fromkeys(
        tuple(r) for r in simulations.select("simulation_id", "circuit_id").collect()
    )
    # a missing or NaN offset counts as 0, as ``na.fill`` would make it
    dyn = {int(k): float(v) for k, v in (dynamic_offsets or {}).items() if v == v}
    rows = [
        (
            sim_id, circuit_id, d["window"], d["trial"],
            d["initial_offset"]
            + (dyn.get(sim_id, 0.0)
               if dynamic_windows is None or d["window"] in dynamic_windows
               else 0.0)
            + d["step_offset"],
            d["t_start"], d["t_stop"], d["t_step"], d["duration"], d["window_type"],
        )
        for sim_id, circuit_id in sims
        for d in defs
    ]
    return windows_table(spark, rows)


def validate_windows(windows: DataFrame) -> None:
    """Semantic checks on the windows table (A5/A6, reference
    ``extract/windows.py:130-144``):

    1. all trials of a (simulation, window) share t_start/t_stop/duration;
    2. trial ids are exactly 0..n−1 per (simulation, window).

    The rows are checked on the driver: the table is config-sized, and
    collecting a driver-resident one runs no job. Raises
    :class:`blueetl_spark.schemas.SchemaError` naming the offending
    windows.
    """
    groups: dict[tuple, list] = {}
    for r in windows.select(
        "simulation_id", "window", "trial", "t_start", "t_stop", "duration"
    ).collect():
        groups.setdefault((r.simulation_id, r.window), []).append(r)

    def consistent(rows: list) -> bool:
        # nulls are skipped, as Spark's count and countDistinct skip them
        for col in ("t_start", "t_stop", "duration"):
            if len({r[col] for r in rows if r[col] is not None}) > 1:
                return False
        trials = sorted(r.trial for r in rows if r.trial is not None)
        return trials == list(range(len(trials)))

    bad = [key for key, rows in groups.items() if not consistent(rows)]
    if bad:
        details = ", ".join(f"(sim={sim}, window={w})" for sim, w in bad)
        raise schemas.SchemaError(f"inconsistent windows: {details}")


def time_bounds_filter(windows: DataFrame, time_col: str = "time"):
    """Global [min, max) time predicate across all windows — push this onto
    the event scan *before* the interval join so parquet row-group stats can
    prune.

    Windows built by :func:`materialize_windows` carry driver-computed
    bounds, so no Spark job runs here; arbitrary windows DataFrames fall
    back to collecting two scalars (one tiny job)."""
    bounds = getattr(windows, "_blueetl_time_bounds", None)
    if bounds is None:
        row = windows.agg(
            F.min(F.col("offset") + F.col("t_start")).alias("lo"),
            F.max(F.col("offset") + F.col("t_stop")).alias("hi"),
        ).first()
        if row is None or row.lo is None:
            return F.lit(False)
        bounds = (row.lo, row.hi)
    return (F.col(time_col) >= F.lit(bounds[0])) & (F.col(time_col) < F.lit(bounds[1]))


def slice_events(
    events: DataFrame,
    windows: DataFrame,
    time_col: str = "time",
    join_keys: list[str] | None = None,
    rebase: bool = True,
    keep_window_cols: list[str] | None = None,
) -> DataFrame:
    """Assign events to every (window, trial) whose interval contains them.

    Equi-join on ``join_keys`` (auto: the intersection of
    ``{simulation_id, circuit_id}`` with the event columns) plus the range
    predicate; the windows side is broadcast. Returns the event columns with
    ``window``, ``trial`` appended and ``time`` re-based to the window frame
    (original time minus offset) when ``rebase``.
    """
    if join_keys is None:
        join_keys = [c for c in ("simulation_id", "circuit_id") if c in events.columns]
    keep = ["window", "trial"] + (keep_window_cols or [])
    w = windows.select(
        *join_keys,
        *keep,
        F.col("offset").alias("__offset"),
        (F.col("offset") + F.col("t_start")).alias("__lo"),
        (F.col("offset") + F.col("t_stop")).alias("__hi"),
    )
    t = F.col(time_col)
    cond = (t >= F.col("__lo")) & (t < F.col("__hi"))
    for k in join_keys:
        cond = cond & (events[k] == w[k])
    joined = events.alias("e").join(F.broadcast(w).alias("w"), cond, "inner")
    event_cols = [F.col(f"e.{c}") for c in events.columns if c != time_col]
    time_expr = (t - F.col("__offset")) if rebase else t
    return joined.select(
        time_expr.alias(time_col),
        *event_cols,
        *[F.col(f"w.{c}") for c in keep],
    )
