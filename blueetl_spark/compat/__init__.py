"""Drop-in shims for the reference's shipped feature modules.

A real blueetl v4 analysis config names its feature functions by dotted
path, e.g. ``blueetl.external.bnac.calculate_features.
calculate_features_multi`` (reference
``/root/reference/tests/functional/data/bbp/config/analysis_config_01.yaml``).
This package mirrors that module layout under this repo's namespace —
``blueetl_spark.compat.bnac.calculate_features.calculate_features_multi``
and friends — so such a config runs verbatim after a one-token namespace
rename, with **no** ``register_feature`` call: the dotted path resolves
through ``operators/features.py::get_feature``.

Every shim is TWO implementations with one contract:

- a **pandas twin** with the reference-shaped signature
  ``fn(repo, key, df, params) -> dict[str, DataFrame]`` (reference
  ``features.py`` multi/single calling convention) that runs per group
  under ``apply_feature_multi``'s Arrow seam — correct anywhere, bounded
  by group size;
- a **Spark builder** (the function's ``spark_builder`` attribute) that
  produces the same outputs as whole-table DataFrame plans built from
  the already-verified operators in ``operators/features.py`` /
  ``operators/signal.py`` — zero per-group Python, the 100 TB path. The
  analysis engine prefers the builder automatically: every feature config
  resolves through one dispatch, ``analysis.py::Analyzer._feature``.

``tests/test_compat.py`` pins the two implementations equal on the same
extraction, so the Spark plans are continuously verified against the
readable per-group definition.

The ``repo`` handle the reference passes into feature functions carries
config-sized metadata only (window bounds/durations/trial counts, class
sizes). :class:`CompatRepo` reproduces exactly the accessors the shipped
modules use (``repo.windows.get_duration/get_bounds/get_number_of_trials``,
reference ``bnac/calculate_features.py:20,69-71``; the neuron count
lookup behind ``len(repo.neurons.df.etl.q(...))``, ibid. :75-77) — built
once on the driver from the driver-resident windows / neuron-class-count
tables and shipped inside the UDF closure.
"""

from __future__ import annotations

from typing import Any


class _WindowsShim:
    """Reference-shaped window-metadata accessors (name-keyed)."""

    def __init__(self, meta: dict[str, dict[str, Any]]):
        self._meta = meta

    def _m(self, window: str) -> dict[str, Any]:
        try:
            return self._meta[window]
        except KeyError:
            raise KeyError(
                f"unknown window {window!r}; have {sorted(self._meta)}"
            ) from None

    def get_duration(self, window: str) -> float:
        return float(self._m(window)["duration"])

    def get_bounds(self, window: str) -> tuple[float, float]:
        m = self._m(window)
        return float(m["t_start"]), float(m["t_stop"])

    def get_number_of_trials(self, window: str) -> int:
        return int(self._m(window)["n_trials"])


class CompatRepo:
    """Config-sized stand-in for the reference's ``repo`` inside feature
    functions. Windows metadata is keyed by window name (the reference
    accessors take only the name; bounds are per-window constants across
    simulations in every shipped config — validated at construction)."""

    def __init__(
        self,
        windows_meta: dict[str, dict[str, Any]],
        class_counts: dict[tuple[Any, str], int],
    ):
        self.windows = _WindowsShim(windows_meta)
        self._counts = dict(class_counts)

    def neuron_count(self, circuit_id, neuron_class: str) -> int:
        return int(self._counts[(circuit_id, neuron_class)])

    @classmethod
    def from_frames(cls, windows_df, neuron_counts_df) -> "CompatRepo":
        """Build from the (tiny) windows and neuron-class-count tables on
        the driver: the per-(simulation, window) rows of
        ``operators.features._window_meta`` are merged by window name, so
        driver-resident tables run no job. A window's ``n_trials`` is its
        largest per-simulation count, which is its number of distinct
        trial ids (trials are 0..n−1 per simulation, validated at
        extraction)."""
        from blueetl_spark.operators.features import _window_meta

        meta: dict[str, dict[str, Any]] = {}
        for r in _window_meta(windows_df).collect():
            bounds = {"t_start": r.t_start, "t_stop": r.t_stop, "duration": r.duration}
            m = meta.setdefault(r.window, {**bounds, "n_trials": r.n_trials})
            if {k: m[k] for k in bounds} != bounds:
                raise ValueError(
                    f"window {r.window!r} has non-uniform bounds across "
                    "simulations; the reference repo accessors are "
                    "name-keyed and cannot represent that"
                )
            m["n_trials"] = max(m["n_trials"], r.n_trials)
        counts = {
            (r["circuit_id"], r["neuron_class"]): r["count"]
            for r in neuron_counts_df.collect()
        }
        return cls(meta, counts)
