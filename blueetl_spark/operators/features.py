"""Grouped feature engine + built-in feature library.

The reference's analytics layer is a grouped-UDTF contract: a user function
runs once per group of the merged neurons ⋈ windows ⋈ report frame and
returns feature DataFrames, fanned out over joblib subprocesses and
re-concatenated via SHM parquet parts
(``/root/reference/src/blueetl/features.py:392-470``, ``parallel.py:63-100``).
In Spark the whole fan-out is ``groupBy(keys).applyInPandas`` — the shuffle
*is* the exchange — and the built-in features (reference
``external/bnac/calculate_features.py``, ``external/bluecv/gid.py``) are
re-expressed as pure DataFrame aggregations so they stay inside
whole-stage codegen instead of Python.

A feature config addresses a built-in as ``function:
blueetl_spark.features.<name>``; :data:`BUILTINS` holds one row per name,
so a new built-in is one row there. Any other function resolves through
:func:`get_feature` and runs per group under :func:`apply_feature` or
:func:`apply_feature_multi`.

Scale notes:

- Every feature here is a map-side-combinable aggregation over the report
  (one shuffle per groupBy on the same key family); window metadata
  (duration, bounds, trial counts) and class counts ride along via
  **broadcast** joins of the tiny windows / neuron_classes tables — the
  reference's ``repo`` handle inside UDFs becomes these broadcasts
  (SURVEY §2.9 delta b).
- Ragged per-gid spike-time lists use ``ArrayType(Double)`` with
  ``sort_array`` — deterministic, and ISI statistics then run with
  higher-order functions (no Python).
"""

from __future__ import annotations

from collections import namedtuple
from collections.abc import Callable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blueetl_spark.operators import timeseries as ts
from blueetl_spark.session import local_df

GROUP_KEYS = ["simulation_id", "circuit_id", "neuron_class", "window"]


def _window_meta(windows: DataFrame) -> DataFrame:
    """Per-(simulation, window): duration, t_start, t_stop, n_trials.

    Aggregated on the driver into a driver-resident frame: the windows table
    is config-sized, and collecting a driver-resident one runs no job.
    Trials of a window share bounds (validated at extraction), so the first
    row's bounds are exact; ``n_trials`` counts distinct non-null trials.
    """
    groups: dict[tuple, tuple[tuple, set]] = {}  # key -> (bounds, trials)
    for r in windows.select(
        "simulation_id", "window", "t_start", "t_stop", "duration", "trial"
    ).collect():
        key = (r.simulation_id, r.window)
        groups.setdefault(key, ((r.t_start, r.t_stop, r.duration), set()))[1].add(r.trial)
    fields = {f.name: f for f in windows.schema.fields}
    schema = T.StructType(
        [fields["simulation_id"], fields["window"]]
        + [T.StructField(c, fields[c].dataType) for c in ("t_start", "t_stop", "duration")]
        + [T.StructField("n_trials", T.LongType(), False)]
    )
    return local_df(
        windows.sparkSession,
        [(*key, *bounds, len(trials - {None})) for key, (bounds, trials) in groups.items()],
        schema,
    )


def by_gid_and_trial(report: DataFrame) -> DataFrame:
    """Per (group key, gid, trial): spike count, first spike, sorted times.

    Mirrors ``external/bnac/calculate_features.py:21-27`` (A3).
    """
    return report.groupBy(*GROUP_KEYS, "gid", "trial").agg(
        F.count("time").alias("count"),
        F.min("time").alias("first"),
        F.sort_array(F.collect_list("time")).alias("times"),
    )


def by_gid(report: DataFrame, windows: DataFrame) -> DataFrame:
    """Per (group key, gid): trial-averaged counts / rates / first-spike.

    ``mean_firing_rates_per_second = mean_count × 1000 / duration`` (times
    are in ms in the reference; A14), averaged over *all* trials including
    silent ones — hence the division by ``n_trials`` from window metadata,
    not by the number of trials with spikes.
    """
    per_trial = report.groupBy(*GROUP_KEYS, "gid", "trial").agg(
        F.count("time").alias("count"), F.min("time").alias("first")
    )
    meta = _window_meta(windows)
    return (
        per_trial.groupBy(*GROUP_KEYS, "gid")
        .agg(
            F.sum("count").alias("total_count"),
            F.mean("first").alias("mean_first"),
        )
        .join(F.broadcast(meta), ["simulation_id", "window"])
        .select(
            *GROUP_KEYS,
            "gid",
            (F.col("mean_first") - F.col("t_start")).alias(
                "first_spike_time_means_cort_zeroed"
            ),
            (F.col("total_count") / F.col("n_trials")).alias("mean_spike_counts"),
            (
                F.col("total_count") / F.col("n_trials") * 1000.0 / F.col("duration")
            ).alias("mean_firing_rates_per_second"),
        )
    )


def by_neuron_class_and_trial(
    report: DataFrame,
    neuron_counts: DataFrame,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Per (group key, trial): mean spike count per neuron.

    ``neuron_counts``: (circuit_id, neuron_class, count) — broadcast; silent
    neurons count toward the denominator (reference divides by class size:
    its report carries NaN-time rows for every member, so ``fillna(0)``
    makes silent gids 0s — ``bnac/calculate_features.py:28-45``).

    ``windows`` (optional): when given, trials with ZERO events for a
    class still emit their 0-mean row — the reference's NaN-row report
    yields one for every (trial, class); an events-only aggregation
    cannot, so the (window, trial) spine is rebuilt from the broadcast
    windows table crossed with the class list and left-joined.
    """
    per_trial = report.groupBy(*GROUP_KEYS, "trial").agg(
        F.count("time").alias("n_spikes")
    )
    counts_b = F.broadcast(neuron_counts)
    if windows is not None:
        spine = (
            windows.select("simulation_id", "window", "trial")
            .distinct()
            .join(counts_b.select("circuit_id", "neuron_class"), how="cross")
        )
        per_trial = spine.join(
            per_trial, [*GROUP_KEYS, "trial"], "left"
        ).withColumn("n_spikes", F.coalesce("n_spikes", F.lit(0)))
    return per_trial.join(
        counts_b, ["circuit_id", "neuron_class"]
    ).select(
        *GROUP_KEYS,
        "trial",
        (F.col("n_spikes") / F.col("count")).alias(
            "mean_of_spike_counts_for_each_trial"
        ),
    )


def by_neuron_class(
    report: DataFrame, windows: DataFrame, neuron_counts: DataFrame
) -> DataFrame:
    """Per group key: population means/stds of the per-gid features (A4).

    Silent neurons (zero spikes in a window) contribute zeros to the
    population mean, exactly like the reference's ``fillna(0)`` on the
    per-gid table — implemented by scaling the sum by the class size
    instead of densifying: mean = sum(x)/N, std over N values with the
    missing ones = 0.
    """
    g = by_gid(report, windows)
    n = F.broadcast(neuron_counts.withColumnRenamed("count", "n_neurons"))
    agg = (
        g.groupBy(*GROUP_KEYS)
        .agg(
            F.sum("mean_spike_counts").alias("sum_counts"),
            F.sum("mean_firing_rates_per_second").alias("sum_rates"),
            F.sum(F.col("mean_firing_rates_per_second") ** 2).alias("sum_rates_sq"),
        )
        .join(n, ["circuit_id", "neuron_class"])
    )
    mean_rate = F.col("sum_rates") / F.col("n_neurons")
    # population variance over all N neurons, silent ones contributing 0
    var_rate = F.col("sum_rates_sq") / F.col("n_neurons") - mean_rate**2
    return agg.select(
        *GROUP_KEYS,
        (F.col("sum_counts") / F.col("n_neurons")).alias("mean_of_mean_spike_counts"),
        mean_rate.alias("mean_of_mean_firing_rates_per_second"),
        F.sqrt(F.greatest(var_rate, F.lit(0.0))).alias(
            "std_of_mean_firing_rates_per_second"
        ),
    )


def histogram(
    report: DataFrame,
    windows: DataFrame,
    neuron_counts: DataFrame,
    bin_size: float = 1.0,
    densify: bool = True,
) -> DataFrame:
    """Per (group key, bin): spike counts binned over the window span (A11,
    A13 PSTH when ``bin_size`` varies), normalized per (neuron × trial).

    ``bin = floor((time - t_start) / bin_size)``, clamped so ``time ==
    t_stop`` lands in the last bin (numpy.histogram right-edge semantics).

    Densification (zero bins) is single-pass: the sparse per-group counts
    are rolled up into one map per group (a second, tiny, map-side-combined
    shuffle), then a dense ``sequence`` of bins is exploded against the map
    — the report subtree is scanned exactly once, instead of once for
    counts and once for the slot list.
    """
    meta = _window_meta(windows)
    binned = (
        report.join(F.broadcast(meta), ["simulation_id", "window"])
        .withColumn("n_bins", F.ceil(F.col("duration") / F.lit(bin_size)).cast("long"))
        .withColumn(
            "bin",
            F.least(
                F.floor((F.col("time") - F.col("t_start")) / F.lit(bin_size)),
                F.col("n_bins") - 1,
            ).cast("long"),
        )
        .groupBy(*GROUP_KEYS, "bin")
        .agg(F.count("time").alias("hist"))
    )
    if densify:
        binned = (
            binned.groupBy(*GROUP_KEYS)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("bin"), F.col("hist")))
                ).alias("__m")
            )
            .join(F.broadcast(meta), ["simulation_id", "window"])
            .withColumn(
                "bin",
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.ceil(F.col("duration") / F.lit(bin_size)).cast("long") - 1,
                    )
                ),
            )
            .select(
                *GROUP_KEYS,
                "bin",
                F.coalesce(F.col("__m")[F.col("bin")], F.lit(0)).alias("hist"),
                "n_trials",
            )
        )
    else:
        binned = binned.join(F.broadcast(meta), ["simulation_id", "window"]).select(
            *GROUP_KEYS, "bin", "hist", "n_trials"
        )
    return binned.join(
        F.broadcast(neuron_counts.withColumnRenamed("count", "n_neurons")),
        ["circuit_id", "neuron_class"],
    ).select(
        *GROUP_KEYS,
        "bin",
        F.col("hist").cast("double").alias("hist"),
        (F.col("hist") / (F.col("n_neurons") * F.col("n_trials"))).alias(
            "hist_normalized"
        ),
    )


def gaussian_filter1d_np(x, sigma: float, truncate: float = 4.0):
    """1-D Gaussian filter, numpy-only (scipy is not in the runtime image).

    Semantics match ``scipy.ndimage.gaussian_filter1d(..., mode='reflect')``:
    kernel truncated at ``truncate × sigma``, normalized to sum 1, reflect
    boundary (edge value not repeated twice).
    """
    import numpy as np

    radius = int(truncate * sigma + 0.5)
    grid = np.arange(-radius, radius + 1, dtype=float)
    kernel = np.exp(-0.5 * (grid / sigma) ** 2)
    kernel /= kernel.sum()
    x = np.asarray(x, dtype=float)
    if len(x) == 0:
        return x
    # scipy 'reflect' = numpy 'symmetric': [c b a | a b c d | d c b]
    padded = np.pad(x, (radius, radius), mode="symmetric")
    return np.convolve(padded, kernel, mode="valid")


def gaussian_smooth_histogram(
    hist: DataFrame,
    sigma: float = 3.0,
    value_col: str = "hist_normalized",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gaussian-smooth each group's histogram (A12).

    The per-group histogram is small (window duration / bin size rows), so
    this runs as ``applyInPandas`` with scipy/numpy per group — the Arrow
    batch is the whole (tiny) group; the heavy table never leaves the JVM
    except for these columns.

    ``passthrough`` carries extra ``hist`` columns through the Arrow batch
    unchanged (typed from the input schema) — keeping raw + smoothed in one
    pass instead of re-running the histogram subtree for a self-join.
    """
    in_types = dict(hist.dtypes)
    cols = [*GROUP_KEYS, "bin", value_col, *passthrough]
    schema = ", ".join(
        [
            "simulation_id smallint",
            "circuit_id smallint",
            "neuron_class string",
            "window string",
            "bin bigint",
            f"{value_col} double",
            *[f"{c} {in_types[c]}" for c in passthrough],
            "smoothed double",
        ]
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin")
        pdf["smoothed"] = gaussian_filter1d_np(pdf[value_col].to_numpy(float), sigma)
        return pdf

    return hist.select(cols).groupBy(*GROUP_KEYS).applyInPandas(smooth, schema)


def isi_stats(report: DataFrame) -> DataFrame:
    """Inter-spike-interval statistics per (group key, gid): mean ISI, CV,
    and LV (local variation), all JVM-side (A15).

    ISIs come from ``lag`` over time within (group, gid, trial); CV =
    std/mean; LV = mean of ``3 (Δi − Δi+1)² / (Δi + Δi+1)²`` over adjacent
    ISI pairs (Shinomoto's local variation).

    Single window pass: ``isi = time − lag(time)`` and ``next_isi =
    lead(time) − time`` come from the same window spec, so both the base
    statistics and the LV terms aggregate in one shuffle — no self-join,
    no recomputation of the report subtree.
    """
    from pyspark.sql import Window as W

    # One exchange for the whole operator: the window partitions by
    # (group, gid) — NOT (group, gid, trial) — ordering by (trial, time)
    # and nulling lag/lead across trial boundaries. HashPartitioning on
    # (group, gid) then already satisfies the final groupBy's required
    # distribution, so Catalyst elides the second full-data shuffle the
    # per-trial window forced (2 exchanges of the report -> 1; measured
    # 15.0 s -> single-exchange at the 20M-row stress tier).
    w = W.partitionBy(*GROUP_KEYS, "gid").orderBy("trial", "time")
    same_prev = F.lag("trial").over(w) == F.col("trial")
    same_next = F.lead("trial").over(w) == F.col("trial")
    isi = F.when(same_prev, F.col("time") - F.lag("time").over(w))
    next_isi = F.when(same_next, F.lead("time").over(w) - F.col("time"))
    terms = report.select(
        *GROUP_KEYS,
        "gid",
        isi.alias("isi"),
        F.when(
            # the sum>0 guard drops degenerate zero-ISI pairs (duplicate
            # spike timestamps), where the LV term is 0/0
            isi.isNotNull() & next_isi.isNotNull() & ((isi + next_isi) > 0),
            3.0 * (isi - next_isi) ** 2 / (isi + next_isi) ** 2,
        ).alias("lv_term"),
    )
    return (
        terms.groupBy(*GROUP_KEYS, "gid")
        .agg(
            F.mean("isi").alias("mean_isi"),
            F.stddev_pop("isi").alias("std_isi"),
            F.count("isi").alias("n_isi"),
            F.mean("lv_term").alias("lv"),
        )
        .filter(F.col("n_isi") > 0)
        .withColumn(
            "cv",
            F.when(F.col("mean_isi") > 0, F.col("std_isi") / F.col("mean_isi")),
        )
        .select(*GROUP_KEYS, "gid", "mean_isi", "cv", "lv", "n_isi")
    )


def latency(report: DataFrame, windows: DataFrame) -> DataFrame:
    """First-spike latency per (group key, trial): min(time) − t_start (A16)."""
    meta = _window_meta(windows)
    return (
        report.groupBy(*GROUP_KEYS, "trial")
        .agg(F.min("time").alias("first_spike"))
        .join(F.broadcast(meta), ["simulation_id", "window"])
        .select(
            *GROUP_KEYS,
            "trial",
            (F.col("first_spike") - F.col("t_start")).alias("latency"),
        )
    )


# The built-in features by config name, with their parameter defaults;
# each has the ``spark_builder`` signature ``fn(report, windows,
# neuron_counts, params) -> DataFrame``.
BUILTINS: dict[str, Callable[[DataFrame, DataFrame, DataFrame, dict], DataFrame]] = {
    f"blueetl_spark.features.{name}": fn
    for name, fn in {
        "by_gid": lambda r, w, c, p: by_gid(r, w),
        "by_gid_and_trial": lambda r, w, c, p: by_gid_and_trial(r),
        "by_neuron_class": lambda r, w, c, p: by_neuron_class(r, w, c),
        "by_neuron_class_and_trial": lambda r, w, c, p: by_neuron_class_and_trial(
            r, c, windows=w
        ),
        "histogram": lambda r, w, c, p: histogram(
            r, w, c, bin_size=float(p.get("bin_size", 1.0))
        ),
        "isi_stats": lambda r, w, c, p: isi_stats(r),
        "latency": lambda r, w, c, p: latency(r, w),
        "sessionize": lambda r, w, c, p: ts.sessionize(
            r, gap=float(p["gap"]), by=p.get("by", ["simulation_id", "window", "gid"])
        ),
        "quantiles": lambda r, w, c, p: ts.group_quantiles(
            r,
            p.get("value_col", "time"),
            p.get("by", ["simulation_id", "window", "neuron_class"]),
            probs=tuple(p.get("probs", (0.5, 0.9, 0.99))),
            exact=bool(p.get("exact", True)),
        ),
    }.items()
}


# ---------------------------------------------------------------------------
# Grouped user-function engine (the applyInPandas extension point)
# ---------------------------------------------------------------------------

FeatureFn = Callable[[pd.DataFrame, dict[str, Any]], pd.DataFrame]

_REGISTRY: dict[str, FeatureFn] = {}


def register_feature(name: str) -> Callable[[FeatureFn], FeatureFn]:
    """Register a grouped feature function by name (the reference's
    ``import_by_string`` dotted-path lookup becomes an explicit registry)."""

    def deco(fn: FeatureFn) -> FeatureFn:
        _REGISTRY[name] = fn
        return fn

    return deco


def _register_module_by_value(module) -> None:
    """Make functions from a user feature module picklable BY VALUE.

    cloudpickle serializes importable functions by reference
    (module + name), so a feature module that exists on the driver but
    not on the executors (the normal cluster case for analysis configs)
    would die with ModuleNotFoundError inside ``applyInPandas``.
    Registering the module for by-value pickling ships the function body
    with the task instead. Skipped for stdlib / installed packages —
    those ARE importable on executors, and by-reference is cheaper.
    """
    import sys

    name = (module.__name__ or "").partition(".")[0]
    if name in sys.stdlib_module_names:
        return
    mod_file = getattr(module, "__file__", "") or ""
    if "site-packages" in mod_file or "dist-packages" in mod_file:
        return
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module.__name__])
    except Exception:  # best-effort: by-reference still works on local[*]
        pass


def get_feature(name: str) -> FeatureFn:
    """Resolve a feature function by name.

    Lookup order mirrors the reference's config contract: the explicit
    registry first, then — for dotted names — an importlib-based
    module-path import (the reference's ``import_by_string``,
    ``/root/reference/src/blueetl/utils.py:146-156``), so a real v4 YAML
    that names a function like ``mypkg.features.calculate_features_multi``
    resolves without a ``register_feature`` call.
    """
    try:
        return _REGISTRY[name]
    except KeyError:
        pass
    if "." in name:
        import importlib

        module_name, _, attr = name.rpartition(".")
        try:
            module = importlib.import_module(module_name)
        except ImportError as exc:
            raise KeyError(
                f"feature function {name!r} is not registered and its module "
                f"{module_name!r} could not be imported: {exc}"
            ) from exc
        try:
            fn = getattr(module, attr)
        except AttributeError as exc:
            raise KeyError(
                f"feature function {name!r}: module {module_name!r} has no "
                f"attribute {attr!r}"
            ) from exc
        if not callable(fn):
            raise KeyError(f"feature function {name!r} resolved but is not callable")
        _register_module_by_value(module)
        _REGISTRY[name] = fn  # memoize so repeated configs skip the import
        return fn
    raise KeyError(
        f"feature function {name!r} is not registered; use register_feature() "
        "or a dotted module path"
    )


def _is_reference_shaped(fn: Callable) -> bool:
    """True for functions with the reference feature calling convention
    ``fn(repo, key, df, params)`` (reference ``features.py`` multi/single
    contract) rather than this engine's ``fn(pdf, params)`` — detected
    from the first parameter names, so a module copied from a reference
    codebase works unmodified."""
    import inspect

    try:
        names = list(inspect.signature(fn).parameters)
    except (TypeError, ValueError):  # builtins / C callables
        return False
    return len(names) >= 4 and names[0] == "repo" and names[1] == "key"


def _caller(
    fn: str | Callable, groupby: list[str], params: dict | None, repo: Any, single: bool
) -> Callable[[tuple, pd.DataFrame], Any]:
    """``call(key, pdf)`` of a feature function given by name or callable:
    ``fn(pdf, params)``, or ``fn(repo, Key(*key), pdf, params)`` for a
    function with the reference calling convention, whose ``key`` is a
    named tuple over ``groupby``. With ``single``, a reference-shaped
    function's dict of scalars (the reference's "single" type) becomes a
    one-row frame."""
    fn = get_feature(fn) if isinstance(fn, str) else fn
    params = params or {}
    if not _is_reference_shaped(fn):
        return lambda key, pdf: fn(pdf, params)
    Key = namedtuple("Key", groupby)

    def call(key: tuple, pdf: pd.DataFrame) -> Any:
        out = fn(repo, Key(*key), pdf, params)
        if single and isinstance(out, dict):
            return pd.DataFrame({k: [v] for k, v in out.items()})
        return out

    return call


def apply_feature(
    df: DataFrame,
    groupby: list[str],
    fn: str | FeatureFn,
    schema: str,
    params: dict[str, Any] | None = None,
    repo: Any | None = None,
) -> DataFrame:
    """Run a user feature function per group via ``applyInPandas``.

    Contract: ``fn(pdf, params) -> pandas.DataFrame``; the group-key columns
    are re-attached to the output if the function dropped them (the
    reference prepends key columns at position 0, ``features.py:434-439``).

    Reference-shaped functions — ``fn(repo, key, df, params)`` returning a
    DataFrame or a flat dict of scalars (the reference's "single" type) —
    are detected from the signature and called with ``repo`` (a
    config-sized :class:`blueetl_spark.compat.CompatRepo`, shipped in the
    task closure) and a named-tuple ``key``.
    """
    call = _caller(fn, groupby, params, repo, single=True)
    # Parse output column names with Spark's own DDL parser — a naive
    # split(",") breaks on any type containing a comma (map<string,double>,
    # decimal(10,2), struct<...>).
    out_cols = (
        T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    ).fieldNames()

    def runner(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = call(key, pdf)
        for col, val in zip(groupby, key):
            if col not in out.columns:
                out.insert(0, col, val)
        return out[list(out_cols)]

    return df.groupBy(*groupby).applyInPandas(runner, schema)


def apply_feature_multi(
    df: DataFrame,
    groupby: list[str],
    fn: str | Callable,
    schemas: dict[str, str],
    params: dict[str, Any] | None = None,
    repo: Any | None = None,
) -> dict[str, DataFrame]:
    """Run a MULTI-output feature function per group — the reference's
    ``type: multi`` contract (``fn(repo, key, df, params) -> dict[str,
    pandas.DataFrame]``, reference ``features.py``/
    ``external/bnac/calculate_features.py:96-179``) — and return one
    Spark DataFrame per declared output.

    Execution shape: ONE ``applyInPandas`` pass computes the function
    once per group and emits every output's rows tagged with the output
    name and packed as a JSON string; the tagged frame is pinned with an
    eager localCheckpoint (blocks reaped on GC — no cross-call cache
    leak, no caller unpersist obligation), and each output is a filter +
    ``from_json`` projection over it (typed by the output's DDL from
    ``schemas``). The function therefore runs once per group no matter
    how many outputs are consumed; group-key columns ride through typed,
    never through JSON.

    This is the *generic* path — correct for any user module, bounded by
    group size. Feature functions that also declare a ``spark_builder``
    (the ``blueetl_spark.compat`` shims) get whole-table DataFrame plans
    from the analysis engine instead, and this path serves as their
    cross-check in tests.
    """
    import json as _json
    import math

    call = _caller(fn, groupby, params, repo, single=False)
    out_names = list(schemas)

    key_fields = [f for f in df.schema.fields if f.name in set(groupby)]
    if len(key_fields) != len(groupby):
        missing = set(groupby) - {f.name for f in key_fields}
        raise ValueError(f"groupby columns missing from input: {sorted(missing)}")
    tag_schema = T.StructType(
        [*key_fields,
         T.StructField("__output", T.StringType()),
         T.StructField("__row", T.StringType())]
    )

    def _clean(v):
        # Strict JSON: from_json has no NaN/Infinity literal — any non-finite
        # float that slipped through used to make from_json yield a null ROW
        # (silent data loss, ADVICE r5). Non-finite → None recursively, and
        # dumps below runs with allow_nan=False so a missed case fails loudly.
        if isinstance(v, float):
            return v if math.isfinite(v) else None
        if hasattr(v, "item") and not hasattr(v, "tolist"):  # numpy scalar
            return _clean(v.item())
        if hasattr(v, "tolist"):  # numpy scalar or array cell
            return _clean(v.tolist())
        if isinstance(v, (list, tuple)):
            return [_clean(x) for x in v]
        if isinstance(v, dict):
            return {k: _clean(x) for k, x in v.items()}
        return v

    def runner(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = call(key, pdf)
        if not isinstance(out, dict):
            raise TypeError(
                f"multi feature {getattr(fn, '__name__', fn)!r} must return "
                f"dict[str, DataFrame], got {type(out).__name__}"
            )
        rows = []
        for oname in out_names:
            odf = out.get(oname)
            if odf is None:
                continue
            for rec in odf.to_dict("records"):
                rows.append(
                    (*key, oname,
                     _json.dumps({k: _clean(v) for k, v in rec.items()},
                                 allow_nan=False))
                )
        return pd.DataFrame(rows, columns=[*groupby, "__output", "__row"])

    # eager localCheckpoint: the tagged frame feeds one parse per output
    # name; a persist here was never unpersisted (the private ``_tagged``
    # handle was fragile and routinely unused — ADVICE r5 leak class).
    tagged = (
        df.groupBy(*groupby)
        .applyInPandas(runner, tag_schema)
        .localCheckpoint(eager=True)
    )
    outs: dict[str, DataFrame] = {}
    for oname in out_names:
        parsed = (
            tagged.filter(F.col("__output") == oname)
            .withColumn("__r", F.from_json("__row", schemas[oname]))
            .select(*groupby, "__r.*")
        )
        outs[oname] = parsed
    return outs
