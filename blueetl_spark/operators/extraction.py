"""Extraction operators: neurons, neuron_classes, report.

Reference behavior (SURVEY §3.1 step 4): the extraction DAG is
``simulations → neurons → neuron_classes → windows → report``
(``/root/reference/src/blueetl/repository.py:293-338``). Each step here is a
lazy DataFrame transformation; Spark's scheduler replaces the reference's
joblib fan-out + SHM-parquet shuffle.

Scale notes:

- **Neurons** are classified in a *single scan* of the nodes table: each
  neuron-class query compiles to a predicate, all predicates are evaluated
  per row into an array of matching class names, then exploded. One pass at
  100 TB instead of one filtered scan per class (the reference filters the
  cached cells DataFrame once per class, ``extract/neurons.py:122-145``).
  Overlapping classes still duplicate the row — exactly the reference's
  union semantics.
- **Sampling** (``limit``): the reference uses
  ``np.random.choice(replace=False)`` under a global seed
  (``extract/neurons.py:82-83``). Distributed equivalent: rank by
  ``rand(seed)`` per class and keep ``rank <= limit`` — an exact-size
  uniform sample with a different RNG stream (documented divergence,
  SURVEY §7 hard-parts).
- **Report** slicing joins events → neurons (shuffle hash/SMJ on gid; the
  neurons side is broadcast when small) → windows (broadcast interval join).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blueetl_spark.session import local_df

from blueetl_spark import schemas
from blueetl_spark.functions.qdsl import compile_query

NeuronClassesConfig = dict[str, dict[str, Any]]
# per-class config keys: query (q-DSL), limit (int|None), population, node_set


def extract_neurons(
    nodes: DataFrame,
    neuron_classes_config: NeuronClassesConfig,
    gid_col: str = "node_id",
    seed: int = 0,
    node_sets=None,
    two_phase_index: bool | str = False,
) -> DataFrame:
    """Classify nodes into neuron classes → ``neurons`` table.

    ``nodes`` must carry ``circuit_id`` plus whatever property columns the
    class queries reference. Output: ``[circuit_id, neuron_class, gid,
    neuron_class_index]`` sorted, with ``neuron_class_index`` a dense
    0..n-1 numbering of gids within (circuit_id, neuron_class)
    (reference ``extract/neurons.py:99-145``).

    A class config's ``node_set`` name (resolved through ``node_sets``, a
    :class:`blueetl_spark.sources.node_sets.NodeSets`) ANDs the set's
    predicate with the class query — the reference restricts the cells
    scan to the node_set before querying (``extract/neurons.py:52-57``);
    here both collapse into the same single-scan predicate.

    ``two_phase_index=True`` numbers classes with the range-partitioned
    :func:`dense_index` variant — same output, no single-task per-class
    sort; use it when any one class exceeds ~10⁸ gids.
    """
    def class_pred(cfg: dict[str, Any]):
        pred = compile_query(cfg.get("query") or {})
        ns_name = cfg.get("node_set")
        if ns_name:
            if node_sets is None:
                raise ValueError(
                    f"class requires node_set {ns_name!r} but no node_sets given"
                )
            pred = node_sets.to_predicate(ns_name) & pred
        pop = cfg.get("population")
        if pop:
            # reference: a class's population picks which SONATA node
            # population the cells come from (extract/windows.py:44-51 uses
            # the same key); parquet-first mapping = a plain equality on the
            # nodes table's population column, folded into the single scan
            if "population" not in nodes.columns:
                raise ValueError(
                    f"class requires population {pop!r} but the nodes table "
                    "has no 'population' column"
                )
            pred = (F.col("population") == pop) & pred
        return pred

    preds = [
        F.when(class_pred(cfg), F.lit(name))
        for name, cfg in neuron_classes_config.items()
    ]
    tagged = (
        nodes.withColumn("__classes", F.array(*preds))
        .withColumn(
            "__classes", F.filter(F.col("__classes"), lambda x: x.isNotNull())
        )
        .filter(F.size("__classes") > 0)
        .withColumn("neuron_class", F.explode("__classes"))
        .select("circuit_id", "neuron_class", F.col(gid_col).alias("gid"))
    )
    limits = {
        name: cfg["limit"]
        for name, cfg in neuron_classes_config.items()
        if cfg.get("limit") is not None
    }
    if limits:
        tagged = _sample_limits(tagged, limits, seed)
    out = dense_index(
        tagged,
        ["circuit_id", "neuron_class"],
        "gid",
        "neuron_class_index",
        two_phase=two_phase_index,
    ).orderBy("circuit_id", "neuron_class", "gid")
    return schemas.ensure_schema(out, schemas.NEURONS_SCHEMA)


def dense_index(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    out_col: str = "index",
    two_phase: bool | str = False,
    num_partitions: int | None = None,
    auto_threshold: int = 50_000_000,
    max_stat_rows: int = 1_000_000,
) -> DataFrame:
    """Dense 0..n-1 numbering of ``order_col`` within each group (W5).

    Default: ``row_number()`` over a per-group window — one exchange, but
    each group sorts inside ONE task, which caps a single class at what
    one executor can sort (~10⁸ rows). ``two_phase=True`` removes that
    ceiling: range-partition on (group…, order) so a group spans many
    ordered partitions; within each partition rows are sorted, so
    ``monotonically_increasing_id`` is already the LOCAL rank up to a
    per-(partition, group) base. One aggregate collects count + base
    row-id per (partition, group) — a config-sized side table, since
    groups are classes — the prefix offsets fold driver-side, and the
    rank is then ``offset + (mono − base)`` via a broadcast join: pure
    JVM, map-only, zero Arrow round-trip of the data columns (the
    previous ``mapInPandas`` rank pass serialized the whole table both
    ways). No global sort, no single-task group, identical output
    (``tests/test_extraction.py`` pins the two equal, nulls included —
    the broadcast join is null-safe on the group keys).

    ``two_phase="auto"`` picks the variant from ONE column-pruned
    aggregate over ``df`` (row count + approx group cardinality):
    > ``auto_threshold`` rows AND a side table that fits the driver →
    the range-partitioned path. Total count is a conservative upper
    bound on the largest group — past the threshold the two-phase path
    is at worst a small constant over the window path and at best the
    difference between finishing and one straggler task sorting a
    100-GB class (measured 3.5× at 10M rows/class, PLANS.md). The
    cardinality guard is the other half: the side table is one row per
    distinct (partition, group) pair — at most ``n_groups +
    n_partitions − 1`` rows, because range partitioning on
    (group…, order) keeps each group in a contiguous partition run and
    each of the ``n_partitions − 1`` boundaries splits at most one
    group — collected to the driver, so a high-cardinality group column
    (per-customer numbering at 10⁸ customers) must NOT auto-select
    two-phase: with that many groups each group is small and the window
    path has no straggler anyway. ``max_stat_rows`` bounds the collect
    on the explicit ``two_phase=True`` path too: past it the collect
    stops and raises with a pointer at the window path instead of
    flooding the driver.

    The range-partitioned frame is ``localCheckpoint``'d before the
    count pass: RangePartitioner samples its boundaries, so without the
    pin the count pass and the rank pass could see different partition
    layouts (and the offsets would be garbage).
    """
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    if two_phase == "auto":
        sizes = df.agg(
            F.count(F.lit(1)).alias("__n"),
            F.approx_count_distinct(F.struct(*group_cols)).alias("__g"),
        ).collect()[0]
        two_phase = (
            sizes["__n"] > auto_threshold
            # side table <= n_groups + n_parts - 1 (contiguous group
            # runs under range partitioning); 1.1 is the
            # approx_count_distinct tolerance so a borderline true
            # cardinality never lets the collect exceed the cap
            and sizes["__g"] * 1.1 + n_parts <= max_stat_rows
        )
    if not two_phase:
        w = Window.partitionBy(*group_cols).orderBy(order_col)
        return df.withColumn(out_col, F.row_number().over(w) - 1)

    ranged = (
        df.repartitionByRange(n_parts, *group_cols, order_col)
        .sortWithinPartitions(*group_cols, order_col)
        .localCheckpoint(eager=True)
    )
    # mono ids are contiguous and increasing within a partition, and the
    # partition is sorted — so (mono − per-(pid, group) min mono) IS the
    # local rank. Both the count and the base come from ONE aggregate.
    with_mono = ranged.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mono"),
    )
    # the limit bounds the collect itself (at most cap+1 rows ever reach
    # the driver), so an unexpectedly-high-cardinality group column fails
    # fast and actionably instead of OOMing the driver
    stats = (
        with_mono.groupBy("__pid", *group_cols)
        .agg(F.count("*").alias("__n"), F.min("__mono").alias("__base"))
        .limit(max_stat_rows + 1)
        .collect()
    )
    if len(stats) > max_stat_rows:
        raise ValueError(
            f"dense_index(two_phase=True) side table exceeds max_stat_rows="
            f"{max_stat_rows} (one row per distinct (partition, group) pair "
            "collects to the driver — ~n_groups at this cardinality). With "
            "this many groups each group is small enough for the window "
            "path's single-task sort — use two_phase=False (or 'auto', "
            "which checks group cardinality) — or raise max_stat_rows."
        )
    # prefix offsets: rows of the same group in lower partitions.
    # Range partitioning on (group…, order) orders a group's rows across
    # ascending partition ids, so the prefix sum by pid is the offset.
    per_group: dict[tuple, list[tuple[int, int, int]]] = {}
    for r in stats:
        g = tuple(r[c] for c in group_cols)
        per_group.setdefault(g, []).append((r["__pid"], r["__n"], r["__base"]))
    rows = []
    for g, lst in per_group.items():
        acc = 0
        for pid, n, base in sorted(lst):
            rows.append((pid, *g, base, acc))
            acc += n
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    off_schema = ", ".join(
        ["__opid int"]
        + [f"__og_{i} {key_fields[c]}" for i, c in enumerate(group_cols)]
        + ["__base long", "__off long"]
    )
    offmap = local_df(spark, rows, off_schema)
    # broadcast join, NULL-SAFE on the group keys: a plain equality join
    # would drop every null-keyed row (the ADVICE r5 misalignment bug in
    # its join-shaped form) — the window path numbers null groups too.
    cond = with_mono["__pid"] == offmap["__opid"]
    for i, c in enumerate(group_cols):
        cond = cond & with_mono[c].eqNullSafe(offmap[f"__og_{i}"])
    return (
        with_mono.join(F.broadcast(offmap), cond)
        .withColumn(
            out_col, F.col("__off") + (F.col("__mono") - F.col("__base"))
        )
        .drop(
            "__pid", "__mono", "__opid", "__base", "__off",
            *[f"__og_{i}" for i in range(len(group_cols))],
        )
    )


# Phase-1 survivors per limited class, as a multiple of its limit.
_OVERSAMPLE = 2.0


def _sample_limits(
    tagged: DataFrame, limits: dict[str, int], seed: int
) -> DataFrame:
    """Exact-size uniform sample per (circuit, class) with a bounded sort.

    The naive approach — ``row_number() over (partition by class order by
    rand)`` on *all* rows — funnels every class through one task's sort:
    fine at 10⁵ gids, a straggler at 10⁹. Two-phase version:

    1. Bernoulli pre-filter with p ≈ _OVERSAMPLE·limit/count (class counts
       from one aggregate, collected — there are only a handful of
       classes), so the rank window sees ~_OVERSAMPLE·limit rows per class
       instead of the whole class.
    2. Exact ``row_number ≤ limit`` on the survivors, ordered by a second
       independent ``rand`` — uniform because phase 1 is symmetric across
       rows.

    If a class undersamples (survivors < limit — Chernoff-rare at 2×
    oversampling but possible), that class falls back to the full-window
    path, preserving exactness. Classes without a limit pass through
    untouched.
    """
    limit_expr = F.create_map(
        *[x for name, lim in limits.items() for x in (F.lit(name), F.lit(int(lim)))]
    )
    counts = {
        (r.circuit_id, r.neuron_class): r.n
        for r in tagged.filter(F.col("neuron_class").isin(list(limits)))
        .groupBy("circuit_id", "neuron_class")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    p_rows = [
        (int(cid), cls, min(1.0, _OVERSAMPLE * limits[cls] / n) if n else 1.0)
        for (cid, cls), n in counts.items()
    ]
    sample_w = Window.partitionBy("circuit_id", "neuron_class").orderBy(
        F.rand(seed + 1), "gid"
    )
    if not p_rows:
        return tagged
    p_map = F.create_map(
        *[
            x
            for cid, cls, p in p_rows
            for x in (F.concat_ws("|", F.lit(str(cid)), F.lit(cls)), F.lit(p))
        ]
    )
    key = F.concat_ws("|", F.col("circuit_id").cast("string"), F.col("neuron_class"))
    # Only limited classes enter the rank window: an unlimited class in the
    # window's partitioning would funnel its full row set through one
    # task's sort — the exact straggler the two-phase design avoids.
    is_limited = F.col("neuron_class").isin(list(limits))
    pre = (
        tagged.filter(is_limited)
        .withColumn("__p", p_map[key])
        .filter(F.col("__p").isNull() | (F.rand(seed) < F.col("__p")))
    )
    ranked = (
        pre.withColumn("__limit", limit_expr[F.col("neuron_class")])
        .withColumn("__rn", F.row_number().over(sample_w))
        .filter(F.col("__rn") <= F.col("__limit"))
        .drop("__p", "__limit", "__rn")
    ).unionByName(tagged.filter(~is_limited))
    # exactness check: any undersampled (circuit, class) redoes the full path
    short = [
        (cid, cls)
        for (cid, cls), n in counts.items()
        if min(1.0, _OVERSAMPLE * limits[cls] / n if n else 1.0) < 1.0
    ]
    if short:
        got = {
            (r.circuit_id, r.neuron_class): r.n
            for r in ranked.groupBy("circuit_id", "neuron_class")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        redo = [
            k for k in short if got.get(k, 0) < min(limits[k[1]], counts[k])
        ]
        if redo:  # pragma: no cover - Chernoff-rare at 2x oversampling
            redo_pred = F.lit(False)
            for cid, cls in redo:
                redo_pred = redo_pred | (
                    (F.col("circuit_id") == cid) & (F.col("neuron_class") == cls)
                )
            full = (
                tagged.filter(redo_pred)
                .withColumn("__limit", limit_expr[F.col("neuron_class")])
                .withColumn("__rn", F.row_number().over(sample_w))
                .filter(F.col("__rn") <= F.col("__limit"))
                .drop("__limit", "__rn")
            )
            ranked = ranked.filter(~redo_pred).unionByName(full)
    return ranked


def extract_neuron_classes(
    neurons: DataFrame,
    neuron_classes_config: NeuronClassesConfig,
    collect_gids: bool = False,
) -> DataFrame:
    """Per-(circuit, class) summary: count + config metadata
    (reference ``extract/neuron_classes.py:25-72``).

    ``gids`` (the full sorted gid array) is only collected when asked —
    at scale it is an O(class size) array per row.
    """
    aggs = [F.count("gid").alias("count")]
    if collect_gids:
        aggs.append(F.array_sort(F.collect_list("gid")).alias("gids"))
    counted = neurons.groupBy("circuit_id", "neuron_class").agg(*aggs)
    if not collect_gids:
        counted = counted.withColumn("gids", F.lit(None).cast("array<bigint>"))
    meta_rows = [
        (
            name,
            cfg.get("limit"),
            cfg.get("population"),
            cfg.get("node_set"),
            json.dumps(cfg.get("query") or {}, sort_keys=True),
        )
        for name, cfg in neuron_classes_config.items()
    ]
    meta = local_df(
        counted.sparkSession,
        meta_rows,
        "neuron_class string, limit bigint, population string, "
        "node_set string, query string",
    )
    out = counted.join(F.broadcast(meta), "neuron_class", "left").select(
        "circuit_id",
        "neuron_class",
        "count",
        "limit",
        "population",
        "node_set",
        "gids",
        "query",
    )
    return schemas.ensure_schema(out, schemas.NEURON_CLASSES_SCHEMA).orderBy(
        "circuit_id", "neuron_class"
    )


def extract_report(
    events: DataFrame,
    neurons: DataFrame,
    windows: DataFrame,
    simulations: DataFrame | None = None,
    time_col: str = "time",
    gid_col: str = "gid",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Windowed, class-annotated event table (= the reference's ``report``).

    ``events``: raw event rows ``[simulation_id?, time, gid, value?...]``.
    If ``simulation_id`` is missing and ``simulations`` has exactly one row,
    it is stamped on. Joins: events ⋈ neurons on (circuit_id, gid) — inner,
    so unclassified gids drop out — then the broadcast interval join against
    windows with time re-based (reference ``extract/spikes.py:19-29``,
    output schema ``report.py:44-58``).

    With ``simulations``, its rows are read on the driver (no job for a
    driver-resident table): the events scan keeps only the selected
    simulations (``simulation_id IN (...)``, pushed to the scan before any
    join), and a missing ``circuit_id`` is mapped from the simulation id.
    """
    from blueetl_spark.operators.windows import slice_events, time_bounds_filter

    sim_circuit = None  # simulation_id -> circuit_id of the selected runs
    if simulations is not None:
        sim_circuit = dict(
            tuple(r) for r in simulations.select("simulation_id", "circuit_id").collect()
        )
    if "simulation_id" not in events.columns:
        if sim_circuit is None:
            raise ValueError("events lack simulation_id and no simulations given")
        if len(sim_circuit) != 1:
            raise ValueError("cannot infer simulation_id for multi-run campaign")
        events = events.withColumn(
            "simulation_id", F.lit(next(iter(sim_circuit))).cast("smallint")
        )
    if sim_circuit is not None:
        sim_type = events.schema["simulation_id"].dataType
        events = events.filter(
            F.col("simulation_id").isin([F.lit(s).cast(sim_type) for s in sim_circuit])
        )
    if "circuit_id" not in events.columns:
        if sim_circuit is None:
            circuit = F.lit(0).cast("smallint")
        else:
            pairs = [F.lit(x) for kv in sim_circuit.items() for x in kv]
            circuit = (
                F.element_at(F.create_map(*pairs), F.col("simulation_id"))
                if pairs
                else F.lit(None)  # no simulation selected: no event is kept
            ).cast(simulations.schema["circuit_id"].dataType)
        events = events.withColumn("circuit_id", circuit)

    # Push the global time envelope down to the scan before any join.
    events = events.filter(time_bounds_filter(windows, time_col))

    # neuron_class_index is NOT carried into the events join: the report
    # projection never outputs it, and every extra byte on the build side
    # rides through the widest join in the pipeline.
    n = neurons.select("circuit_id", F.col("gid"), "neuron_class")
    ev = events.withColumnRenamed(gid_col, "gid") if gid_col != "gid" else events
    # class-filtered neuron lists are small against events: broadcast them
    classified = ev.join(F.broadcast(n), ["circuit_id", "gid"], "inner")

    sliced = slice_events(classified, windows, time_col=time_col)
    cols = [
        F.col(time_col).alias("time"),
        "gid",
        "window",
        "trial",
        "simulation_id",
        "circuit_id",
        "neuron_class",
    ] + [F.col(c) for c in (value_cols or [])]
    return sliced.select(*cols)
