"""Config-driven analysis pipeline: the ``blueetl run`` equivalent.

A user of the reference drives everything from a YAML config (version 4,
``/root/reference/src/blueetl/config/analysis_model.py``): campaign +
per-analysis extraction (neuron classes, windows, report type) + a list of
feature configs. This module re-expresses that surface on Spark:

- :class:`Analyzer` — one analysis: lazy extraction DAG
  (simulations → neurons → neuron_classes → windows → report) with
  checksum caching per step, feature calculation through the registry,
  in-memory ``apply_filter`` re-filtering (reference ``repository.py`` +
  ``features.py``).
- :class:`MultiAnalyzer` — dict of Analyzers from one config
  (``analysis.py:206-218``).
- ``params_product`` / ``params_zip`` feature-config expansion
  (``utils.py:227-258``, ``config/analysis.py:132-170``).

Inputs are DataFrames (``nodes``, ``events``) supplied by the caller or an
adapter callable — the SONATA file adapters of the reference are out of
scope while inputs are Parquet (SURVEY §4 conclusion); any loader that
yields the right columns plugs in.
"""

from __future__ import annotations

import itertools
from concurrent.futures import ThreadPoolExecutor
from functools import cached_property
from pathlib import Path
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blueetl_spark.functions.qdsl import Query, compile_query
from blueetl_spark.operators.extraction import (
    extract_neuron_classes,
    extract_neurons,
    extract_report,
)
from blueetl_spark.operators.windows import (
    materialize_windows,
    validate_windows,
    windows_table,
)
from blueetl_spark.plans.cache import CacheManager, CachedPipeline, checksum
from blueetl_spark.schemas import WINDOWS_SCHEMA
from blueetl_spark.sources.campaign import SimulationCampaign


def _file_digest(path: str | None) -> str | None:
    """Content digest of a config-referenced input file (cache keying);
    None for unset, a sentinel for missing (the compute() will raise)."""
    if not path:
        return None
    import hashlib

    p = Path(path)
    if not p.is_file():
        return f"missing:{path}"
    return hashlib.md5(p.read_bytes()).hexdigest()


def params_product(params: dict[str, Any]) -> list[dict[str, Any]]:
    """Cartesian expansion of list-valued keys (suffix ``__0``-style ids are
    the caller's concern; we return plain dicts in deterministic order)."""
    keys = [k for k, v in params.items() if isinstance(v, list)]
    if not keys:
        return [dict(params)]
    out = []
    for combo in itertools.product(*[params[k] for k in keys]):
        d = dict(params)
        d.update(dict(zip(keys, combo)))
        out.append(d)
    return out


def params_zip(params: dict[str, Any]) -> list[dict[str, Any]]:
    """Zip expansion: list-valued keys must share length; row i takes the
    i-th value of each."""
    keys = [k for k, v in params.items() if isinstance(v, list)]
    if not keys:
        return [dict(params)]
    lengths = {len(params[k]) for k in keys}
    if len(lengths) != 1:
        raise ValueError(f"params_zip lists must share length, got {lengths}")
    out = []
    for i in range(lengths.pop()):
        d = dict(params)
        d.update({k: params[k][i] for k in keys})
        out.append(d)
    return out


def expand_features_configs(configs: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Expand ``params_product`` / ``params_zip`` keys of each feature config
    into concrete configs with a ``params_id`` suffix (U5/F7)."""
    out = []
    for cfg in configs:
        base_params = cfg.get("params", {})
        variants: list[dict[str, Any]] = [base_params]
        if "params_product" in cfg:
            variants = [
                {**base_params, **v} for v in params_product(cfg["params_product"])
            ]
        if "params_zip" in cfg:
            variants = [
                {**v, **z}
                for v in variants
                for z in params_zip(cfg["params_zip"])
            ]
        for i, params in enumerate(variants):
            c = {k: v for k, v in cfg.items() if k not in ("params_product", "params_zip")}
            c["params"] = params
            if len(variants) > 1:
                c["suffix"] = f"_{i}"
                c["params_id"] = i
            out.append(c)
    return out


class Analyzer:
    """One analysis: extraction DAG + features, with per-step caching."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        config: dict[str, Any],
        campaign: SimulationCampaign,
        nodes: DataFrame,
        events: DataFrame,
        cache_path: str | Path | None = None,
        simulations_filter: Query = None,
        simulations_filter_in_memory: Query = None,
        cache_readonly: bool = False,
        resolver: Callable[[str], "Analyzer"] | None = None,
    ) -> None:
        self.spark = spark
        self.name = name
        self.config = config = self._normalize_config(config)
        self.campaign = campaign
        self.nodes = nodes
        self.events = events
        self.simulations_filter = simulations_filter
        self.simulations_filter_in_memory = simulations_filter_in_memory
        self._resolver = resolver
        extraction = config["extraction"]
        configs = {
            "simulations": {"campaign": campaign.to_dict()},
            "neurons": {
                "neuron_classes": extraction["neuron_classes"],
                "limit": extraction.get("limit"),
                "seed": extraction.get("seed", 0),
                # node-set files are inputs to the neurons computation: key
                # the cache on their CONTENT so editing a file (not just
                # repointing the config) invalidates stale neurons
                "node_sets": [
                    _file_digest(extraction.get(k))
                    for k in ("node_sets_file", "node_sets_file_extra")
                ],
            },
            "neuron_classes": {"neuron_classes": extraction["neuron_classes"]},
            "windows": {"windows": extraction["windows"]},
            "report": {"report": extraction.get("report", {"type": "spikes"})},
        }
        if cache_path is not None:
            self._cache = CacheManager(
                spark, Path(cache_path) / name, readonly=cache_readonly
            )
            self._pipeline = CachedPipeline(self._cache, configs, simulations_filter)
            self._pipeline.plan_invalidation()
        else:
            self._cache = None
            self._pipeline = None

    @staticmethod
    def _normalize_config(config: dict[str, Any]) -> dict[str, Any]:
        """Resolve reference config sugar into the canonical form BEFORE
        the cache-step checksums are built (so caching keys cover resolved
        content, matching the reference's checksum-suffix discipline):

        - extraction-level ``population`` / ``node_set`` are per-class
          defaults; a class's own value wins (reference
          ``config/analysis_model.py`` semantics, exercised by functional
          themes 01-04 which set ``population`` at extraction level).
        - ``trial_steps_label: <name>`` on a window resolves to a copy of
          ``extraction.trial_steps[<name>]`` stored as the window's own
          ``trial_steps`` dict (reference ``extract/windows.py:176-190``
          passes the labelled TrialStepsConfig into the dynamic-offset
          computation; functional themes 02 and 08).
        """
        import copy

        extraction = copy.deepcopy(config["extraction"])
        for key in ("population", "node_set"):
            default = extraction.get(key)
            if default is not None:
                for ccfg in extraction["neuron_classes"].values():
                    ccfg.setdefault(key, default)
        ts_defs = extraction.get("trial_steps", {})
        for wname, wcfg in extraction.get("windows", {}).items():
            if isinstance(wcfg, dict) and wcfg.get("trial_steps_label"):
                label = wcfg["trial_steps_label"]
                if label not in ts_defs:
                    raise ValueError(
                        f"window {wname!r} references trial_steps_label "
                        f"{label!r}, not defined in extraction.trial_steps "
                        f"(available: {sorted(ts_defs)})"
                    )
                wcfg["trial_steps"] = copy.deepcopy(ts_defs[label])
        return {**config, "extraction": extraction}

    # -- extraction DAG ------------------------------------------------------
    def _get(self, name: str, compute: Callable[[], DataFrame]) -> DataFrame:
        if self._pipeline is not None:
            return self._pipeline.get_or_compute(name, compute)
        return compute()

    @cached_property
    def simulations(self) -> DataFrame:
        def compute() -> DataFrame:
            df = self.campaign.to_simulations_df(self.spark)
            if self.simulations_filter:
                df = df.filter(compile_query(self.simulations_filter))
            return df

        return self._get("simulations", compute)

    @cached_property
    def neurons(self) -> DataFrame:
        ex = self.config["extraction"]
        classes = {
            name: {**cfg, "limit": cfg.get("limit", ex.get("limit"))}
            for name, cfg in ex["neuron_classes"].items()
        }

        def compute() -> DataFrame:
            node_sets = None
            if ex.get("node_sets_file") or ex.get("node_sets_file_extra"):
                from blueetl_spark.sources.node_sets import NodeSets

                node_sets = NodeSets.from_file(ex.get("node_sets_file"))
                if ex.get("node_sets_file_extra"):  # sim-level overlay (|=)
                    node_sets.update(NodeSets.from_file(ex["node_sets_file_extra"]))
            return extract_neurons(
                self.nodes, classes, seed=ex.get("seed", 0), node_sets=node_sets
            )

        return self._get("neurons", compute)

    @cached_property
    def neuron_classes(self) -> DataFrame:
        ex = self.config["extraction"]

        def compute() -> DataFrame:
            return extract_neuron_classes(self.neurons, ex["neuron_classes"])

        return self._get("neuron_classes", compute)

    @cached_property
    def windows(self) -> DataFrame:
        ex = self.config["extraction"]

        def compute() -> DataFrame:
            refs = {
                n: c
                for n, c in ex["windows"].items()
                if isinstance(c, dict) and "window_ref" in c
            }
            own = {n: c for n, c in ex["windows"].items() if n not in refs}
            w = None
            if own:
                dyn_names = [
                    n for n, c in own.items()
                    if isinstance(c.get("trial_steps"), dict)
                ]
                w = materialize_windows(
                    self.spark, own, self.simulations,
                    dynamic_offsets=self._dynamic_offsets(own),
                    # reference parity: only trial_steps windows shift; a
                    # fixed window next to an onset one keeps its offset
                    dynamic_windows=dyn_names or None,
                )
            if refs:
                # copy the MATERIALIZED rows of the source window (incl.
                # its dynamic offsets), renamed — reference
                # _load_records_from_resolver semantics; all rows are
                # driver rows, so the table stays driver-resident
                rows = [tuple(r) for r in w.collect()] if w is not None else []
                for n, c in refs.items():
                    a_name, w_name = c["window_ref"]
                    if self._resolver is None:
                        raise ValueError(
                            f"window {n!r} references {a_name}.extraction."
                            f"windows.{w_name} but this Analyzer has no "
                            "resolver (use MultiAnalyzer for cross-analysis "
                            "window references)"
                        )
                    src = self._resolver(a_name).windows.filter(
                        F.col("window") == w_name
                    ).select(WINDOWS_SCHEMA.fieldNames())
                    rows += [(*r[:2], n, *r[3:]) for r in src.collect()]
                w = windows_table(self.spark, rows)
            validate_windows(w)
            return w

        return self._get("windows", compute)

    @cached_property
    def report(self) -> DataFrame:
        def compute() -> DataFrame:
            return extract_report(
                self.events, self.neurons, self.windows,
                simulations=self.simulations,
                value_cols=self._value_cols(),
            )

        return self._get("report", compute)

    def _value_cols(self) -> list[str]:
        rtype = self.config["extraction"].get("report", {}).get("type", "spikes")
        return {"spikes": [], "soma": ["value"], "compartment": ["section", "value"]}[
            rtype
        ]

    def _dynamic_offsets(self, windows_config: dict) -> dict[int, float] | None:
        """Onset detection (A22): windows with ``trial_steps: {function:
        'onset', ...}`` get a per-simulation dynamic offset computed from a
        pre-window spike histogram (driver-side; the histogram is tiny)."""
        specs = {
            n: c["trial_steps"]
            for n, c in windows_config.items()
            if isinstance(c.get("trial_steps"), dict)
        }
        if not specs:
            return None
        from blueetl_spark.operators.onset import detect_onsets

        # one spec per analysis supported (reference: per-window; rare)
        spec = next(iter(specs.values()))
        return detect_onsets(self.events, self.simulations, spec)

    def extract(self) -> dict[str, DataFrame]:
        return {
            "simulations": self.simulations,
            "neurons": self.neurons,
            "neuron_classes": self.neuron_classes,
            "windows": self.windows,
            "report": self.report,
        }

    # -- features ------------------------------------------------------------
    def _feature_inputs(
        self, cfg: dict[str, Any], counts: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(report, windows, counts) restricted to a feature config's
        optional ``windows: [...]`` / ``neuron_classes: [...]`` lists
        (reference ``features.py:504-516`` filters the merge inputs by
        window and neuron_class; functional theme 10). Catalyst pushes
        the isin predicates into the cached report scan."""
        report, windows = self.report, self.windows
        wl = cfg.get("windows")
        if wl:
            report = report.filter(F.col("window").isin(list(wl)))
            windows = windows.filter(F.col("window").isin(list(wl)))
        ncl = cfg.get("neuron_classes")
        if ncl:
            report = report.filter(F.col("neuron_class").isin(list(ncl)))
            counts = counts.filter(F.col("neuron_class").isin(list(ncl)))
        return report, windows, counts

    def calculate_features(self) -> dict[str, DataFrame]:
        """Run every feature config; returns name → DataFrame (with params
        suffix when expanded). Each config resolves through
        :meth:`_feature`; built-in Spark-native features are addressed by
        ``function: blueetl_spark.features.<name>``.

        With a cache, tables it cannot serve are materialized in two
        phases. First every missing table's plan is built on the calling
        thread (resolving report, windows and neuron classes once). Then
        every dump + reload runs as a concurrent Spark job from one thread
        pool, whose jobs carry the caller's job group and description: the
        feature jobs of a campaign are small, and run one at a time they
        left most cores idle. Since the tables are materialized as one
        batch, a failing feature no longer stops the others from being
        published: its error is raised once every job has finished, the
        independent tables are already cached (a retry recomputes only what
        failed), and the failed dump leaves nothing behind. An error while
        building a plan raises before any job starts. When two configs name
        the same table, the last one wins.
        """
        out: dict[str, DataFrame] = {}
        pending: dict[str, tuple[DataFrame, str]] = {}  # key → (plan, checksum)
        counts = self.neuron_classes.select("circuit_id", "neuron_class", "count")
        for cfg in expand_features_configs(self.config.get("features", [])):
            suffix = cfg.get("suffix", "")
            names, build = self._feature(cfg)
            cs = checksum({"cfg": cfg}) if self._cache is not None else None
            # cache first: a hit must not pay for plan construction (which
            # resolves report/windows and opens their inputs); a config is
            # served only when every one of its tables hits
            if cs is not None and names is not None:
                hits = {
                    n + suffix: self._cache.fetch(
                        f"features_{n}{suffix}", cs, self.simulations_filter
                    )
                    for n in names
                }
                if all(v is not None for v in hits.values()):
                    for key, df in hits.items():
                        out[key] = df
                        pending.pop(key, None)
                    continue
            for name, df in build(*self._feature_inputs(cfg, counts)).items():
                if cfg.get("params") and cfg.get("params_id") is not None:
                    df = df.withColumn("params_id", F.lit(cfg["params_id"]))
                out[name + suffix] = df
                if cs is not None:  # a later config with the same key replaces it
                    pending[name + suffix] = (df, cs)
        self._materialize(pending, out)
        return out

    def _feature(
        self, cfg: dict[str, Any]
    ) -> tuple[
        list[str] | None,
        Callable[[DataFrame, DataFrame, DataFrame], dict[str, DataFrame]],
    ]:
        """Resolve one feature config to ``(output names, build)``, where
        ``build(report, windows, counts)`` returns the unexecuted table of
        each output name, and the names are ``None`` when only the build
        can tell them.

        A single-output config has one name: its ``name``, or the last
        dotted part of its function. It runs its :data:`features.BUILTINS`
        row, or its function per group under ``apply_feature``. A config
        is multi-output if it says so (reference ``type: multi``) or its
        function declares a ``spark_builder`` (the ``blueetl_spark.compat``
        shims, including ones the reference types as "single", whose
        builder still returns a named output dict). The builder then
        contributes whole-table DataFrame plans built from the verified
        native operators, with no per-group Python at all. Anything else
        runs through the generic ``apply_feature_multi`` Arrow seam with
        per-output DDL schemas (``cfg["schemas"]`` or the function's
        ``output_schemas``). Reference-shaped functions also get the
        :meth:`_compat_repo` stand-in.
        """
        from blueetl_spark.operators import features as feat

        fname, params = cfg["function"], cfg.get("params", {})
        multi = cfg.get("type") == "multi"
        name = cfg.get("name", fname.rsplit(".", 1)[-1])
        builtin = None if multi else feat.BUILTINS.get(fname)
        if builtin is not None:
            return [name], lambda r, w, c: {name: builtin(r, w, c, params)}
        fn_ = feat.get_feature(fname)
        builder = getattr(fn_, "spark_builder", None)
        groupby = cfg.get("groupby", feat.GROUP_KEYS)

        def repo():
            return self._compat_repo() if feat._is_reference_shaped(fn_) else None

        if not multi and builder is None:
            return [name], lambda r, w, c: {
                name: feat.apply_feature(
                    r, groupby, fn_, cfg["schema"], params=params, repo=repo()
                )
            }
        schemas = cfg.get("schemas")
        if schemas is None:
            osch = getattr(fn_, "output_schemas", None)
            schemas = osch(params) if callable(osch) else osch
        if builder is not None:
            return (
                list(schemas) if schemas else None,
                lambda r, w, c: builder(r, w, c, params),
            )
        if not schemas:
            raise ValueError(
                f"multi feature {fname!r} needs per-output schemas: pass "
                "cfg['schemas'] = {output_name: ddl} or define "
                "fn.output_schemas"
            )
        return list(schemas), lambda r, w, c: feat.apply_feature_multi(
            r, groupby, fn_, schemas, params=params, repo=repo()
        )

    def _materialize(
        self,
        pending: dict[str, tuple[DataFrame, str]],
        out: dict[str, DataFrame],
    ) -> None:
        """Dump and reload every pending feature table, as concurrent Spark
        jobs; raises the first failure (in config order) once all are done."""
        if not pending:
            return
        cache, flt = self._cache, self.simulations_filter

        @inheritable_thread_target(self.spark)  # captures the job group now
        def publish(key: str) -> DataFrame:
            df, cs = pending[key]
            cache.dump(f"features_{key}", df, cs, flt)
            return cache.load(f"features_{key}")

        workers = min(len(pending), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(workers) as pool:  # exits when all are done
            futures = {key: pool.submit(publish, key) for key in pending}
        for key, fut in futures.items():
            err = fut.exception()
            if err is not None:
                err.add_note(f"while materializing feature table {key!r}")
                raise err
            out[key] = fut.result()

    def _compat_repo(self):
        """Config-sized reference-``repo`` stand-in for feature functions
        with the reference calling convention; built once per analyzer
        from the driver-resident windows / class-count tables."""
        if getattr(self, "_compat_repo_cache", None) is None:
            from blueetl_spark.compat import CompatRepo

            self._compat_repo_cache = CompatRepo.from_frames(
                self.windows,
                self.neuron_classes.select("circuit_id", "neuron_class", "count"),
            )
        return self._compat_repo_cache

    # -- in-memory refiltering (reference apply_filter) ----------------------
    def apply_filter(self, simulations_filter: Query = None):
        """In-memory refiltered view. With no argument, the config's
        ``simulations_filter_in_memory`` applies (reference
        ``analysis.py:125-144``: extract + cache the FULL campaign, filter
        only the returned view); with neither, return self unchanged."""
        if simulations_filter is None:
            simulations_filter = self.simulations_filter_in_memory
        if not simulations_filter:
            return self
        rows = self.simulations.filter(
            compile_query(simulations_filter)
        ).select("simulation_id", "circuit_id").collect()
        return FilteredAnalyzer(
            self,
            [r.simulation_id for r in rows],
            sorted({r.circuit_id for r in rows}),
        )


class FilteredAnalyzer:
    """Read-only view of an Analyzer restricted to the simulations matching
    a filter — every table filtered in memory, nothing recomputed or
    re-cached (reference ``FilteredRepository``, ``repository.py:392-418``).

    Both the surviving ``simulation_id`` set and the circuits they use are
    pushed: circuit-grained tables (neurons, neuron_classes) shrink too
    (reference pushes ``{circuit_id: ids}`` through every cached frame,
    ``repository.py:96-120``).
    """

    def __init__(
        self,
        base: Analyzer,
        simulation_ids: list[int],
        circuit_ids: list[int] | None = None,
    ):
        self._base = base
        self._ids = simulation_ids
        self._circuit_ids = circuit_ids

    def _filtered(self, df: DataFrame) -> DataFrame:
        if "simulation_id" in df.columns:
            df = df.filter(F.col("simulation_id").isin(self._ids))
        elif self._circuit_ids is not None and "circuit_id" in df.columns:
            df = df.filter(F.col("circuit_id").isin(self._circuit_ids))
        return df

    @property
    def simulations(self) -> DataFrame:
        return self._filtered(self._base.simulations)

    @property
    def neurons(self) -> DataFrame:
        return self._filtered(self._base.neurons)

    @property
    def neuron_classes(self) -> DataFrame:
        return self._filtered(self._base.neuron_classes)

    @property
    def windows(self) -> DataFrame:
        return self._filtered(self._base.windows)

    @property
    def report(self) -> DataFrame:
        return self._filtered(self._base.report)

    def extract(self) -> dict[str, DataFrame]:
        return {
            "simulations": self.simulations,
            "neurons": self.neurons,
            "neuron_classes": self.neuron_classes,
            "windows": self.windows,
            "report": self.report,
        }

    def calculate_features(self) -> dict[str, DataFrame]:
        return {
            k: self._filtered(v)
            for k, v in self._base.calculate_features().items()
        }


class MultiAnalyzer:
    """All analyses of one config; mirrors ``MultiAnalyzer``/``run_from_file``."""

    def __init__(
        self,
        spark: SparkSession,
        config: dict[str, Any],
        nodes: DataFrame,
        events: DataFrame | dict[str, DataFrame],
        cache_path: str | Path | None = None,
        clear_cache: bool | None = None,
        readonly_cache: bool | None = None,
        seed: int | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        camp_cfg = config["simulation_campaign"]
        campaign = (
            SimulationCampaign.load(camp_cfg)
            if isinstance(camp_cfg, (str, Path))
            else SimulationCampaign.from_dict(camp_cfg)
        )
        cache_cfg = config.get("cache", {})
        cache_path = cache_path or cache_cfg.get("path")
        if clear_cache is None:
            clear_cache = bool(cache_cfg.get("clear", False))
        if readonly_cache is None:
            readonly_cache = bool(cache_cfg.get("readonly", False))
        if clear_cache and cache_path is not None:
            import shutil

            shutil.rmtree(cache_path, ignore_errors=True)
        self._resolve_window_references(config["analysis"])
        self.analyzers: dict[str, Analyzer] = {}
        for name, acfg in config["analysis"].items():
            ev = events[name] if isinstance(events, dict) else events
            if seed is not None:
                acfg = {
                    **acfg,
                    "extraction": {**acfg["extraction"], "seed": seed},
                }
            self.analyzers[name] = Analyzer(
                spark, name, acfg, campaign, nodes, ev,
                cache_path=cache_path,
                simulations_filter=config.get("simulations_filter"),
                simulations_filter_in_memory=config.get(
                    "simulations_filter_in_memory"
                ),
                cache_readonly=readonly_cache,
                resolver=self.analyzers.__getitem__,
            )

    @staticmethod
    def _resolve_window_references(analyses: dict[str, Any]) -> None:
        """W3: a window configured as the string
        ``"<analysis>.extraction.windows.<name>"`` becomes a ref marker
        ``{"window_ref": (analysis, window), "resolved": <target cfg>}``.
        The Analyzer's windows step then copies the *materialized rows*
        from the referenced analysis's windows table (reference
        ``extract/windows.py:146-163`` ``_load_records_from_resolver``
        pulls rows, NOT config — so a referenced onset window carries the
        SOURCE analysis's dynamic offsets rather than recomputing them
        from the local events). ``resolved`` is the transitively-resolved
        target config: it feeds the cache checksum, so editing the source
        window still invalidates every referencing analysis. Chains
        resolve transitively; cycles raise.
        """
        import copy

        def resolve(ref: str, seen: tuple[str, ...]) -> tuple[str, str, dict]:
            if ref in seen:
                raise ValueError(
                    f"circular window reference: {' -> '.join(seen + (ref,))}"
                )
            parts = ref.split(".")
            if len(parts) != 4 or parts[1] != "extraction" or parts[2] != "windows":
                raise ValueError(
                    f"bad window reference {ref!r}; expected "
                    "'<analysis>.extraction.windows.<window>'"
                )
            a, _, _, w = parts
            try:
                target = analyses[a]["extraction"]["windows"][w]
            except KeyError:
                raise ValueError(f"window reference {ref!r} not found") from None
            if isinstance(target, str):
                a, w, target = resolve(target, seen + (ref,))
            target = copy.deepcopy(target)
            # inline the source analysis's labelled trial_steps so the
            # checksum covers the onset spec the source rows depend on
            if isinstance(target, dict) and target.get("trial_steps_label"):
                label = target["trial_steps_label"]
                ts = analyses[a]["extraction"].get("trial_steps", {})
                if label in ts:
                    target["trial_steps"] = copy.deepcopy(ts[label])
            return a, w, target

        for acfg in analyses.values():
            windows = acfg.get("extraction", {}).get("windows", {})
            for wname, wcfg in list(windows.items()):
                if isinstance(wcfg, str):
                    a, w, target = resolve(wcfg, ())
                    windows[wname] = {"window_ref": [a, w], "resolved": target}

    def __getattr__(self, name: str) -> Analyzer:
        try:
            return self.analyzers[name]
        except KeyError:
            raise AttributeError(name) from None

    def extract(self) -> None:
        for a in self.analyzers.values():
            a.extract()

    def calculate_features(self) -> dict[str, dict[str, DataFrame]]:
        return {n: a.calculate_features() for n, a in self.analyzers.items()}

    def apply_filter(self, simulations_filter: Query = None) -> "MultiAnalyzer":
        """Filtered view of every analysis (reference
        ``analysis.py:300-315``): defaults to the config's
        ``simulations_filter_in_memory``; no filter → self."""
        views = {
            n: a.apply_filter(simulations_filter)
            for n, a in self.analyzers.items()
        }
        if all(v is a for v, a in zip(views.values(), self.analyzers.values())):
            return self
        clone = object.__new__(MultiAnalyzer)
        clone.spark = self.spark
        clone.config = self.config
        clone.analyzers = views
        return clone


def run_from_config(
    spark: SparkSession,
    config: dict[str, Any] | str | Path,
    nodes: DataFrame,
    events: DataFrame | dict[str, DataFrame],
    cache_path: str | Path | None = None,
    extract: bool = True,
    calculate: bool = True,
    clear_cache: bool | None = None,
    readonly_cache: bool | None = None,
    seed: int | None = None,
) -> MultiAnalyzer:
    """Load config (dict or YAML path), build the MultiAnalyzer, extract
    everything and compute features (the ``blueetl run`` entry point;
    stage toggles and cache flags mirror the reference CLI,
    ``apps/run.py:13-33``)."""
    if isinstance(config, (str, Path)):
        import yaml

        config = yaml.safe_load(Path(config).read_text())
    ma = MultiAnalyzer(
        spark, config, nodes, events,
        cache_path=cache_path,
        clear_cache=clear_cache,
        readonly_cache=readonly_cache,
        seed=seed,
    )
    if extract:
        ma.extract()
    if calculate:
        ma.calculate_features()
    return ma
