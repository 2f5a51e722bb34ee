"""Seeded input generation, JVM-only (``spark.range`` + ``xxhash64``).

Every column is a pure function of ``(seed, row id)`` and the row ranges
have fixed partition counts, so the same seed writes byte-identical
parquet part files and another seed writes different ones. Sizes do not
depend on the seed: runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import random
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# -- campaign ---------------------------------------------------------------
#: simulation grid: every (seed, ca) pair is one simulation
CAMPAIGN_SEEDS = [11, 12, 13, 14]
CAMPAIGN_CA = [1.0, 1.05, 1.1, 1.15]
N_NODES = 2000
EVENTS_PER_SIM = 40_000
T_STOP_MS = 1000.0
#: a cold op runs this many seeds x ca values of the grid
COLD_SEEDS, COLD_CA = 2, 2
#: a re-query narrows to this many seeds x ca values of the cold filter
#: (a strict subfilter), then apply_filter keeps this many ca values of those
WARM_SEEDS, WARM_CA, WARM_APPLY_CA = 1, 2, 1

#: module path of the user feature, resolved by dotted name like any v4 config
USER_FEATURE = "perfbench.userfeat.spike_time_stats"
USER_FEATURE_SCHEMA = (
    "simulation_id smallint, circuit_id smallint, neuron_class string, "
    "window string, n_spikes long, n_gids long, mean_time double, "
    "p90_time double"
)


def _h(seed: int, *cols: Column | int) -> Column:
    """Non-negative 63-bit hash of the seed and the given columns."""
    cols = [F.lit(c) if isinstance(c, int) else c for c in cols]
    return F.xxhash64(F.lit(seed), *cols).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))


def _unit(seed: int, *cols: Column | int) -> Column:
    """Uniform double in [0, 1) from the hash."""
    return (_h(seed, *cols) % F.lit(1 << 30)).cast("double") / float(1 << 30)


def _write(df: DataFrame, path: Path) -> None:
    df.write.mode("overwrite").parquet(str(path))


def write_campaign_inputs(spark: SparkSession, seed: int, data_dir: Path) -> None:
    """``nodes.parquet`` and ``events.parquet`` in the ParquetAdapter layout."""
    nid = F.col("id")
    layer = (_h(seed, nid, 1) % 6 + 1).cast("int")
    nodes = spark.range(0, N_NODES, numPartitions=1).select(
        F.lit(0).cast("smallint").alias("circuit_id"),
        nid.alias("node_id"),
        F.when(_unit(seed, nid, 2) < 0.8, "EXC").otherwise("INH").alias("synapse_class"),
        layer.alias("layer"),
    )
    _write(nodes, data_dir / "nodes.parquet")
    n_sims = len(CAMPAIGN_SEEDS) * len(CAMPAIGN_CA)
    eid = F.col("id")
    # spike times on the 0.025 ms simulation grid; a per-gid rate skew so
    # firing rates and ISIs differ between neurons
    gid = (_h(seed, eid, 3) % N_NODES) * (_unit(seed, eid, 4) * 0.5 + 0.5)
    events = spark.range(0, n_sims * EVENTS_PER_SIM, numPartitions=8).select(
        (eid / EVENTS_PER_SIM).cast("smallint").alias("simulation_id"),
        gid.cast("long").alias("gid"),
        (F.floor(_unit(seed, eid, 5) * (T_STOP_MS / 0.025)) * 0.025).alias("time"),
    )
    _write(events, data_dir / "events.parquet")


def campaign_config() -> dict[str, Any]:
    """A v4 analysis config over the generated campaign: three neuron
    classes (one with a ``limit``), a fixed and a multi-trial window, four
    built-in features and one ``applyInPandas`` user feature."""
    grid = [(s, ca) for s in CAMPAIGN_SEEDS for ca in CAMPAIGN_CA]
    return {
        "version": 4,
        "simulation_campaign": {
            "name": "perfbench",
            "attrs": {"circuit_config": "/circuit/perfbench"},
            "data": [
                {"simulation_path": f"/campaign/{i}", "seed": s, "ca": ca}
                for i, (s, ca) in enumerate(grid)
            ],
        },
        "analysis": {
            "spikes": {
                "extraction": {
                    "report": {"type": "spikes"},
                    "neuron_classes": {
                        "EXC": {"query": {"synapse_class": "EXC"}},
                        "INH": {"query": {"synapse_class": "INH"}},
                        "L5_EXC": {
                            "query": {"synapse_class": "EXC", "layer": 5},
                            "limit": 150,
                        },
                    },
                    "windows": {
                        "w_fixed": {"bounds": [0.0, 800.0]},
                        "w_trials": {
                            "bounds": [0.0, 100.0],
                            "n_trials": 5,
                            "trial_steps_value": 200.0,
                        },
                    },
                },
                "features": [
                    {"function": "blueetl_spark.features.by_gid"},
                    {"function": "blueetl_spark.features.by_neuron_class"},
                    {"function": "blueetl_spark.features.histogram",
                     "params": {"bin_size": 10.0}},
                    {"function": "blueetl_spark.features.isi_stats"},
                    {"function": USER_FEATURE, "schema": USER_FEATURE_SCHEMA},
                ],
            }
        },
    }


def grid_filter(rng: random.Random, n_seeds: int, n_ca: int,
                seeds: list[int] | None = None,
                cas: list[float] | None = None) -> dict[str, list]:
    """A q-DSL filter selecting ``n_seeds x n_ca`` simulations of the grid
    (optionally within given seed / ca lists)."""
    return {
        "seed": sorted(rng.sample(seeds or CAMPAIGN_SEEDS, n_seeds)),
        "ca": sorted(rng.sample(cas or CAMPAIGN_CA, n_ca)),
    }


def simulation_ids(flt: dict[str, list]) -> list[int]:
    """Simulation ids (campaign positions) a grid filter selects."""
    grid = [(s, ca) for s in CAMPAIGN_SEEDS for ca in CAMPAIGN_CA]
    return [i for i, (s, ca) in enumerate(grid)
            if s in flt["seed"] and ca in flt["ca"]]


# -- graph-gate tables --------------------------------------------------------
#: TPC-H-shaped row counts of the tables the graph gates read
N_CUSTOMER, N_SUPPLIER, N_ORDERS, N_DOCUMENTS = 750, 100, 7_500, 250
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "line sort window spark order data column join small customer query "
    "big filter group stream vector"
).split()


def write_gate_tables(spark: SparkSession, seed: int, sf_dir: Path) -> None:
    """customer, supplier, orders, lineitem and documents in the column
    layout ``blueetl_spark.sources.tables`` reads."""
    k = F.col("id")
    _write(spark.range(0, N_CUSTOMER, numPartitions=1).select(
        k.alias("c_custkey"),
        F.concat(F.lit("Customer#"), k.cast("string")).alias("c_name"),
        (_h(seed, k, 1) % 25).cast("int").alias("c_nationkey"),
    ), sf_dir / "customer.parquet")
    _write(spark.range(0, N_SUPPLIER, numPartitions=1).select(
        k.alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), k.cast("string")).alias("s_name"),
        (_h(seed, k, 2) % 25).cast("int").alias("s_nationkey"),
    ), sf_dir / "supplier.parquet")
    orders = spark.range(0, N_ORDERS, numPartitions=2).select(
        k.alias("o_orderkey"),
        (_h(seed, k, 3) % N_CUSTOMER).alias("o_custkey"),
        (F.round(_unit(seed, k, 4) * 1e5, 2)).alias("o_totalprice"),
    )
    _write(orders, sf_dir / "orders.parquet")
    # 1..7 lines per order (4 on average, as in TPC-H)
    lines = spark.range(0, N_ORDERS, numPartitions=2).select(
        k.alias("l_orderkey"),
        F.explode(F.sequence(F.lit(1), (_h(seed, k, 5) % 7 + 1).cast("int")))
        .alias("l_linenumber"),
    )
    ln = F.col("l_linenumber")
    _write(lines.select(
        "l_orderkey",
        (_h(seed, F.col("l_orderkey"), ln, 6) % 2000).alias("l_partkey"),
        (_h(seed, F.col("l_orderkey"), ln, 7) % N_SUPPLIER).alias("l_suppkey"),
        "l_linenumber",
        (_h(seed, F.col("l_orderkey"), ln, 8) % 50 + 1).cast("double").alias("l_quantity"),
    ), sf_dir / "lineitem.parquet")
    # documents come in near-duplicate families of 5: members share a base
    # word sequence and each replaces about one word in eight
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    base = (k / 5).cast("long")
    n_words = (_h(seed, base, 9) % 90 + 8).cast("int")
    word = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.when(
            _h(seed, k, i, 10) % 8 == 0,
            vocab[(_h(seed, k, i, 11) % len(_VOCAB)).cast("int")],
        ).otherwise(vocab[(_h(seed, base, i, 12) % len(_VOCAB)).cast("int")]),
    )
    text = F.array_join(word, " ")
    _write(spark.range(0, N_DOCUMENTS, numPartitions=1).select(
        k.alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("perfbench").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    ), sf_dir / "documents.parquet")
