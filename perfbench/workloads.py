"""The benchmark's workloads.

A workload generates its inputs and a seeded plan of ops from the seed
(``prepare``), computes the references its outputs are checked against
(``check``), warms every op type up (``warmup``) and then hands out its
timed ops (``ops``; a second call replays the same plan). Every op returns
whether its output check passed; the harness times it. Spans around the
calls into each layer come from the shared tracer and are no-ops in an
untraced run.
"""

from __future__ import annotations

import random
import shutil
import threading
import time
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import SparkSession

from perfbench import inputs
from perfbench.digest import digest_frames, select
from perfbench.spans import Tracer

Op = Callable[[], bool]


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


class _Background(threading.Thread):
    """Runs ``fn(*args)`` in a thread; ``result()`` waits and returns it
    (or raises what it raised)."""

    def __init__(self, fn, *args) -> None:
        super().__init__(daemon=True)
        self.fn, self.args, self._out, self._err = fn, args, None, None

    def run(self) -> None:
        try:
            self._out = self.fn(*self.args)
        except BaseException as e:  # re-raised in result()
            self._err = e

    def result(self):
        self.join()
        if self._err is not None:
            raise self._err
        return self._out


class Workload:
    name = ""
    #: seconds of ``--seconds`` that buy one planned op (for gates: one
    #: pass over the gates); sets how much work a run times
    NOMINAL_OP_S = 1.0

    def __init__(self, spark: SparkSession, root: Path, seed: int,
                 tracer: Tracer) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        #: seconds of correctness-only work in ``check`` (not set-up time)
        self.check_s = 0.0
        #: counters the ops report besides their spans, one list per name
        self.counters: dict[str, list[float]] = {}

    def rebind(self, spark: SparkSession, tracer: Tracer) -> None:
        """Continue in a new session (inputs, plan and references are kept)."""
        self.spark, self.tracer = spark, tracer
        self.counters = {}

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(value)

    def n_ops(self, seconds: int) -> int:
        return max(1, round(seconds / self.NOMINAL_OP_S))

    def prepare(self, seconds: int) -> None: ...

    def check(self) -> None: ...

    def warmup(self) -> None: ...

    def ops(self) -> list[Op]: ...

    def settle(self) -> None:
        """Untimed clean-up before each op."""


class Campaign(Workload):
    """One op is a full cold ``blueetl run`` of a seeded, equal-size
    simulation subset into a fresh cache directory, followed by one
    interactive re-query of that cache: a new ``MultiAnalyzer`` with a
    narrower filter (subfilter reuse through ``CacheManager.fetch``), a
    further ``apply_filter``, and a digest of every feature."""

    name = "campaign"
    #: an op takes about 14 s on 4 cores
    NOMINAL_OP_S = 13.0
    STEPS = ("simulations", "neurons", "neuron_classes", "windows", "report")

    def prepare(self, seconds: int) -> None:
        self.data_dir = self.root / "campaign"
        inputs.write_campaign_inputs(self.spark, self.seed, self.data_dir)
        self.n_sims = len(inputs.CAMPAIGN_SEEDS) * len(inputs.CAMPAIGN_CA)
        self.nodes_mb = _dir_mb(self.data_dir / "nodes.parquet")
        self.events_mb = _dir_mb(self.data_dir / "events.parquet")
        # the warm-up op first, then the timed ops
        self.plan = [self._draw() for _ in range(1 + self.n_ops(seconds))]
        self.n_run = 0

    def _draw(self) -> tuple[dict, dict, dict]:
        """(cold filter, narrower re-query filter, apply_filter)."""
        cold = inputs.grid_filter(self.rng, inputs.COLD_SEEDS, inputs.COLD_CA)
        narrow = inputs.grid_filter(self.rng, inputs.WARM_SEEDS, inputs.WARM_CA,
                                    cold["seed"], cold["ca"])
        applied = {"ca": sorted(self.rng.sample(narrow["ca"], inputs.WARM_APPLY_CA))}
        return cold, narrow, applied

    def _inputs(self):
        from blueetl_spark.adapters.parquet import ParquetAdapter

        adapter = ParquetAdapter(self.spark, self.data_dir)
        return adapter.nodes(), adapter.events()

    def check(self) -> None:
        """Per-simulation reference digests of every extraction table and
        feature, from one uncached run (``cache_path=None``) over the
        simulations the timed ops select. Digests add up, so these give
        the expected digest of each op's filters. The run goes on in a
        background thread during ``warmup``."""
        ids = sorted({i for cold, _, _ in self.plan[1:]
                      for i in inputs.simulation_ids(cold)})
        self._reference = _Background(self._reference_digests, ids)
        self._reference.start()

    def _reference_digests(self, ids: list[int]) -> dict:
        from blueetl_spark.analysis import MultiAnalyzer

        cfg = {**inputs.campaign_config(), "simulations_filter": {"simulation_id": ids}}
        nodes, events = self._inputs()
        a = MultiAnalyzer(self.spark, cfg, nodes, events, cache_path=None).spikes
        return digest_frames({**a.extract(), **a.calculate_features()},
                             by="simulation_id")

    def warmup(self) -> None:
        """One untimed op on its own filters (its output is not checked,
        its counters are dropped), beside the reference run; then the wait
        for the reference, which counts as check time."""
        self._op(*self.plan[0], check=False)()
        self.counters = {}
        t = time.perf_counter()
        self.ref = self._reference.result()
        self.check_s += time.perf_counter() - t

    def ops(self) -> list[Op]:
        return [self._op(*p) for p in self.plan[1:]]

    def settle(self) -> None:
        shutil.rmtree(self.root / "caches", ignore_errors=True)

    def _op(self, cold: dict, narrow: dict, applied: dict, check: bool = True) -> Op:
        self.n_run += 1
        cache = self.root / "caches" / str(self.n_run)
        return lambda: self._run(cache, cold, narrow, applied, check)

    def _matches(self, got: dict[str, Any], flt: dict[str, list]) -> bool:
        ids = inputs.simulation_ids(flt)
        return got == {n: select(self.ref[n], ids) for n in got}

    def _run(self, cache: Path, cold: dict, narrow: dict, applied: dict,
             check: bool) -> bool:
        from blueetl_spark.analysis import MultiAnalyzer

        span = self.tracer.span
        with span("step.inputs"):
            nodes, events = self._inputs()
        cfg = {**inputs.campaign_config(), "simulations_filter": cold}
        a = MultiAnalyzer(self.spark, cfg, nodes, events, cache_path=cache).spikes
        for step in self.STEPS:
            with span(f"step.{step}"):
                getattr(a, step)
        with span("step.features"):
            features = a.calculate_features()
        with span("step.digest"):
            got = digest_frames({**a.extract(), **features})
        ok = not check or self._matches(got, cold)
        written = _dir_mb(cache)
        self.count("cache.write_mb", written)
        self.count("cache.write_amp", written / (
            self.nodes_mb + self.events_mb * len(inputs.simulation_ids(cold)) / self.n_sims))

        metas = {p.name: p.stat().st_mtime_ns for p in cache.rglob("*.meta.json")}
        with span("requery.open"):
            ma = MultiAnalyzer(self.spark, {**cfg, "simulations_filter": narrow},
                               nodes, events, cache_path=cache)
        with span("requery.apply_filter"):
            view = ma.apply_filter(applied).spikes
        with span("requery.fetch"):
            features = view.calculate_features()
        with span("requery.digest"):
            got = digest_frames(features)
        after = {p.name: p.stat().st_mtime_ns for p in cache.rglob("*.meta.json")}
        kept = sum(1 for n, t in metas.items() if after.get(n) == t)
        self.count("requery.hit_ratio", kept / len(metas))
        self.count("requery.write_mb", _dir_mb(cache) - written)
        return ok and (not check or self._matches(got, {**narrow, **applied}))


#: the graph gates timed. Two of the registered graph gates are left out
#: to fit the run budget, as their operators are timed here already:
#: ``pagerank_personalized`` runs ``graph.pagerank`` like
#: ``pagerank_fixed``, and ``clustering_coeff`` is ``triangle_counts``
#: plus one degree join.
GATES = (
    "pagerank_fixed",
    "bfs_hops",
    "shortest_paths",
    "k_core_fixed",
    "tree_closure",
    "triangle_counts",
    "dedup_components",
)


def _canon(df):
    """Rows sorted on every column, floats compared to 1e-9 relative."""
    import pandas as pd

    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]) and not pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def _same(got, exp) -> bool:
    import numpy as np

    if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        if g[c].dtype == "float64":
            if not np.allclose(g[c].to_numpy(), e[c].to_numpy(), rtol=1e-9,
                               atol=0.0, equal_nan=True):
                return False
        elif not (g[c] == e[c]).all():
            return False
    return True


class GraphGates(Workload):
    """Seven registered graph gates on seeded TPC-H-shaped tables, one
    gate per op (build, then a digest that executes it), a seeded gate
    order per pass. ``check`` runs every gate's op once, which is the
    warm-up."""

    name = "gates_graph"
    #: a pass takes about 12 s on 4 cores; two passes per 15 s keep the
    #: median over 14 ops steady enough
    NOMINAL_OP_S = 7.0

    def prepare(self, seconds: int) -> None:
        self.sf_dir = self.root / "gates"
        inputs.write_gate_tables(self.spark, self.seed, self.sf_dir)
        self.plan = [g for _ in range(self.n_ops(seconds))
                     for g in self.rng.sample(GATES, len(GATES))]

    def check(self) -> None:
        """Each gate once against its DuckDB oracle; the checked result's
        digest is what every timed op of that gate must reproduce. The
        oracles run in a background thread while Spark builds and digests
        every gate once, which also warms every gate up; only the
        collects, the wait for the oracles and the comparisons count as
        check time."""
        from blueetl_spark import queries

        oracles = _Background(self._oracles, [queries.ORACLES[g] for g in GATES])
        oracles.start()
        got, self.expected = {}, {}
        for g in self.plan[:len(GATES)]:
            df = queries.QUERIES[g](self.spark, str(self.sf_dir))
            self.expected[g] = digest_frames({g: df})[g]
            t = time.perf_counter()
            got[g] = df.toPandas()
            self.check_s += time.perf_counter() - t
        t = time.perf_counter()
        self.oracle_ok = {
            g: _same(got[g], exp) for g, exp in zip(GATES, oracles.result())
        }
        self.check_s += time.perf_counter() - t

    def _oracles(self, sqls: list[str]) -> list:
        """Oracle SQL results from DuckDB over the generated tables."""
        import duckdb

        con = duckdb.connect(config={"threads": 2,
                                     "temp_directory": str(self.root / "tmp")})
        for t in ("customer", "supplier", "orders", "lineitem", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir / t}.parquet/*.parquet')")
        try:
            return [con.sql(q).df() for q in sqls]
        finally:
            con.close()

    def ops(self) -> list[Op]:
        return [(lambda g=g: self._run(g)) for g in self.plan]

    def _run(self, gate: str) -> bool:
        from blueetl_spark import queries

        with self.tracer.span(f"construct.{gate}"):
            df = queries.QUERIES[gate](self.spark, str(self.sf_dir))
        with self.tracer.span(f"execute.{gate}"):
            got = digest_frames({gate: df})[gate]
        return self.oracle_ok[gate] and got == self.expected[gate]


WORKLOADS = {w.name: w for w in (Campaign, GraphGates)}
