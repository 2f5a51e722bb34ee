"""Link-graph operators: PageRank for document-quality weighting.

Beyond-reference addition for web-crawl curation: Common-Crawl-style
pipelines weight documents by link-graph centrality (a PageRank-family
score over the host/page graph) before sampling. The reference has no
graph code; the companion operator here is ``operators/dedup.py``'s
``connected_components`` (same iterative-DataFrame discipline).

Scale design (the shape a 1000-executor run needs):

- The edge list is the big input; it is cleaned ONCE (self-loops out,
  optional dedup), extended with per-source degree ONCE, and pinned —
  every iteration re-reads that frame.
- One join rule for every iterative operator here (and
  ``dedup.connected_components``), owned by :class:`_EdgeSide`: each
  round joins a node-sized side (ranks, frontier, distances, labels)
  against the static edge frame on ``src``. When that side has at most
  ``BROADCAST_MAX_NODES`` rows (read at call time) it is broadcast and
  the round is MAP-ONLY on the edge side; otherwise the edge frame is
  laid out once by :func:`laid_out` and each round shuffles only the
  node-sized side. The row count is one the operator already takes
  (:func:`_rows`), and the layout is released before the operator
  returns. Survivor and settled-set joins follow the same bound.
- Lineage: :func:`_rounds` ends each round in an eager
  ``localCheckpoint`` (an uncut iterative plan grows geometrically and
  OOMs the *driver* in query planning; measured on
  ``connected_components``) and runs ``gc.collect()`` every sixth round
  so the ContextCleaner reclaims the orphaned checkpoint blocks.
- Dangling mass (nodes with no out-links) is handled exactly: the
  dangling node SET is computed once (anti join); each round folds their
  current rank into a single scalar (one map-side-combined agg) and
  redistributes it uniformly — the standard matrix-free formulation, no
  dense vector anywhere.
- Convergence: L1 delta between generations, one agg per round; the
  loop stops at ``tol`` or ``max_iter``. The delta join shares the
  ranks' hash partitioning, so it does not add an exchange beyond the
  generation it must materialize anyway.

Determinism note: float summation order across shuffles makes ranks
reproducible only to ~1e-12 relative — fine for weighting/sampling, and
why the test oracle is a numpy power iteration under ``rel=1e-9``
rather than a value-hash gate.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blueetl_spark.session import shuffle_partitions

#: node-sized sides of at most this many rows are broadcast (~100 MB of
#: ranks); read at call time, so a test can move it
BROADCAST_MAX_NODES = 4_000_000


def _rows(df: DataFrame) -> int:
    """Row count of ``df`` in one Spark job. Under AQE ``count()`` runs
    two even on a pinned frame: one for its aggregate's exchange (map
    stage), one for the result."""
    return df._jdf.queryExecution().toRdd().count()


def _broadcast_within(df: DataFrame, rows: int) -> DataFrame:
    """``df`` hinted for broadcast when its ``rows`` fit the bound."""
    return F.broadcast(df) if rows <= BROADCAST_MAX_NODES else df


def laid_out(edges: DataFrame, key: str) -> DataFrame:
    """``edges`` hash-partitioned on ``key``, sorted within partitions,
    persisted and materialized (one ``count``) — the edge side of an
    iterative operator whose node-sized side is too big to broadcast.
    The caller unpersists it before returning.

    A localCheckpoint loses partitioning metadata, so a pinned edge
    frame would be re-exchanged AND re-sorted by every round's
    sort-merge join. An InMemoryTableScan keeps its outputPartitioning
    and ordering (``spark.sql.optimizer.canChangeCachedPlanOutput-
    Partitioning`` defaults false), so each round exchanges and sorts
    only the node-sized side. The partition count is explicit because
    AQE must not coalesce the layout: a coalesced layout no longer
    matches the per-round exchange, and the edge side is shuffled again.
    """
    spark = edges.sparkSession
    out = (
        edges.repartition(shuffle_partitions(spark), key)
        .sortWithinPartitions(key)
        .persist()
    )
    out.count()
    return out


class _EdgeSide:
    """The static ``(src, dst, ...)`` edge frame of an iterative operator;
    a context manager that releases what it persisted on exit.

    ``rows`` is the node side's row count when the operator knows it
    before the loop and reads the edges before the first round
    (pagerank): the frame is then pinned eagerly, or laid out at once.
    Without it the pin is lazy and each :meth:`join` decides from that
    round's count; a first round past the bound lays out from the
    unpinned plan, so the pin is never filled. ``persisted`` marks an
    edge frame the caller already persisted and filled
    (``connected_components``' label frame reads it first): it is the
    pin, the layout is built from it, and it is released here.
    """

    def __init__(self, edges: DataFrame, rows: int | None = None,
                 persisted: bool = False):
        self._plan = self._pin = edges
        self._layout, self._joined = None, False
        self._persisted = edges if persisted else None
        if rows is not None and rows > BROADCAST_MAX_NODES:
            self._lay_out()
        elif not persisted:
            self._pin = edges.localCheckpoint(eager=rows is not None)

    @property
    def edges(self) -> DataFrame:
        return self._pin if self._layout is None else self._layout

    def _lay_out(self) -> None:
        self._layout = laid_out(self._pin if self._joined else self._plan, "src")
        if self._persisted is not None:  # the layout replaces it
            self._persisted.unpersist(blocking=False)
            self._persisted = None

    def join(self, side: DataFrame, rows: int) -> DataFrame:
        """``side`` (keyed ``id``, ``rows`` rows) inner-joined to the
        edges on ``id == src`` under the one join rule."""
        if rows > BROADCAST_MAX_NODES and self._layout is None:
            self._lay_out()
        self._joined = True
        side, e = _broadcast_within(side, rows), self.edges
        return side.join(e, side["id"] == e["src"])

    def release(self) -> None:
        """Unpersist the layout or the caller's persisted edges. Every
        round ends in a checkpoint, so no result references them."""
        for df in (self._layout, self._persisted):
            if df is not None:
                df.unpersist(blocking=False)

    def __enter__(self) -> _EdgeSide:
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def _rounds(state, step, n, done=None):
    """``state`` after up to ``n`` rounds of ``state = step(state, i)``.
    Each round's frame is pinned with an eager ``localCheckpoint``, and
    ``gc.collect()`` runs every sixth round so the ContextCleaner drops
    the orphaned checkpoint blocks (they are reclaimed only after a GC).
    ``done(old, new)`` stops the loop early; it is not asked after the
    last round, whose answer would change nothing."""
    for i in range(n):
        new = step(state, i).localCheckpoint()
        if (i + 1) % 6 == 0:
            gc.collect()
        if done is not None and i < n - 1 and done(state, new):
            return new
        state = new
    return state


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    nodes: DataFrame | None = None,
    id_col: str = "id",
    assume_distinct_edges: bool = False,
    personalization: DataFrame | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """Exact (matrix-free) PageRank over a directed edge list.

    Returns (id, rank) with ranks summing to 1.0 (±float noise).
    ``nodes`` optionally widens the vertex set beyond ids seen in
    ``edges`` (isolated pages still receive teleport mass). ``tol`` is
    the L1-delta stop threshold; set ``tol=0.0`` to force exactly
    ``max_iter`` rounds (reproducible iteration counts for tests).
    ``assume_distinct_edges=True`` skips the edge-dedup shuffle, same
    contract as ``connected_components``. Each round's rank frame is
    referenced three times (dangling mass, contributions, carry), so an
    uncut lineage would triple per round.

    Join rule from the vertex count (already taken for the teleport
    base); under the bound the node-sized contribution join broadcasts
    too. Float note: the broadcast shape accumulates each dst's
    contributions in edge-partition order rather than sorted-src order,
    so raw ranks move at the ~1e-15 relative level — inside every
    consumer's contract (the oracle gates round to 9 dp on ~1e-4-scale
    ranks; the test oracle allows rel 1e-9), verified
    equal-after-rounding at both gate SFs.

    ``personalization`` makes it topic-sensitive (personalized)
    PageRank: a (id, ``weight_col``) frame of non-negative teleport
    weights — the random surfer restarts at node i with probability
    ∝ weight_i instead of uniformly, so ranks measure proximity to the
    seed set (the "score pages by closeness to trusted domains"
    curation primitive). Weights are normalized over the full vertex
    set (missing ids get 0); dangling mass redistributes by the same
    vector. The weight rides the rank frame as one extra column —
    per-iteration plan shape is unchanged (one edge join + one
    node-sized join + a broadcast 1-row aggregate).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    if not assume_distinct_edges:
        e = e.distinct()
    # e is consumed three times below (vertex set, degrees, weighted
    # edges); without a pin each consumer re-runs the upstream
    # extraction + dedup — measured 3x the whole 5-iteration loop at
    # sf0.1
    e = e.localCheckpoint()

    ids = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
    )
    if nodes is not None:
        ids = ids.union(nodes.select(F.col(id_col).alias("id")))
    ids = ids.distinct().localCheckpoint()
    n = _rows(ids)
    if n == 0:
        return ids.withColumn("rank", F.lit(0.0))

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # weight each edge once; every iteration reuses this pinned frame
    with _EdgeSide(
        e.join(deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("__deg")).alias("w")
        ),
        rows=n,
    ) as we:
        # dangling membership is static: carry it as a flag on the rank frame
        # so the per-round mass aggregate never joins (one node-sized scan)
        flagged = ids.join(
            we.edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("__out", F.lit(True)),
            "id",
            "left",
        ).select("id", F.coalesce("__out", F.lit(False)).alias("__out"))

        carry = ["__out"]
        if personalization is not None:
            # duplicate ids fold (sum) so a replayed/unioned seed frame can't
            # duplicate rank-frame rows through the join below
            pw = (
                personalization.select(
                    F.col(id_col).alias("id"),
                    F.col(weight_col).cast("double").alias("__wraw"),
                )
                .groupBy("id")
                .agg(F.sum("__wraw").alias("__wraw"))
            )
            tagged = flagged.join(pw, "id", "left").select(
                "id", "__out", F.coalesce("__wraw", F.lit(0.0)).alias("__wraw")
            )
            # normalize over the VERTEX SET (weights on non-vertices carry no
            # teleport mass — they must not dilute the distribution); two
            # scalars to the driver, bounded by construction
            wmin, wsum = tagged.agg(
                F.min("__wraw"), F.sum("__wraw")
            ).collect()[0]
            if wmin is not None and wmin < 0:
                raise ValueError("personalization weights must be non-negative")
            if not wsum or wsum <= 0:
                raise ValueError(
                    "personalization weights must have a positive sum over the "
                    "graph's vertices"
                )
            flagged = tagged.select(
                "id",
                "__out",
                (F.col("__wraw") / F.lit(float(wsum))).alias("__w"),
            )
            carry = ["__out", "__w"]

        dm = F.col("__dmass")
        if personalization is None:
            init, base = F.lit(1.0 / n), F.lit((1.0 - damping) / n)
            teleport = base + F.lit(damping) * dm / F.lit(float(n))
        else:
            init = w = F.col("__w")
            teleport = F.lit(1.0 - damping) * w + F.lit(damping) * dm * w

        def step(ranks, _):
            # dangling mass rides the round's own plan as a broadcast 1-row
            # aggregate — no per-round driver collect; the checkpointed rank
            # RDD is scanned twice inside ONE job instead of across two
            dmass = ranks.filter(~F.col("__out")).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dmass")
            )
            contrib = (
                we.join(ranks.select("id", "rank"), n)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") * F.col("w")).alias("__in"))
            )
            return (
                ranks.select("id", *carry, F.col("rank").alias("__prev"))
                .join(_broadcast_within(contrib, n), "id", "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "id",
                    *carry,
                    (
                        teleport
                        + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                    ).alias("rank"),
                    "__prev",
                )
            )

        def settled(_, new):
            # one full join+aggregate pass: tol=0.0 ("run exactly max_iter
            # rounds") skips it
            delta = new.agg(
                F.sum(F.abs(F.col("rank") - F.col("__prev")))
            ).collect()[0][0]
            return delta is not None and delta <= tol

        return _rounds(
            flagged.withColumn("rank", init).localCheckpoint(),
            step, max_iter, settled if tol > 0.0 else None,
        ).select("id", "rank")


def quality_weights(
    docs: DataFrame,
    edges: DataFrame,
    doc_id: str = "doc_id",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
) -> DataFrame:
    """Attach a normalized link-quality weight to each document:
    rank / mean(rank), so an unlinked corpus degrades to weight 1.0
    everywhere and downstream samplers can multiply weights in
    unconditionally."""
    ranks = pagerank(
        edges, src_col=src_col, dst_col=dst_col, damping=damping,
        max_iter=max_iter, nodes=docs, id_col=doc_id,
    )
    mean_rank = ranks.agg(F.avg("rank").alias("m")).collect()[0]["m"]
    return docs.join(
        ranks.select(F.col("id").alias(doc_id), "rank"), doc_id, "left"
    ).withColumn(
        "quality_weight",
        F.coalesce(F.col("rank"), F.lit(0.0)) / F.lit(mean_rank),
    ).drop("rank")


def _canonical_und(edges, src_col, dst_col):
    """Canonical undirected edge set (u < v): self-loops and duplicates
    out — one distinct shuffle, pinned because every caller consumes it
    repeatedly."""
    a, b = F.col(src_col), F.col(dst_col)
    return (
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
        .localCheckpoint()
    )


def _degrees(und, name):
    """Per-vertex degree ``(id, name)`` of a canonical edge set."""
    return (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias(name))
    )


def _triangles_per_node(und, deg):
    """Degree-oriented per-node triangle counts from a canonical edge
    set: (id, triangles), triangle-free vertices absent."""
    # orient by (degree, id): strict total order, ties broken by id
    e = (
        und.join(deg.withColumnRenamed("id", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("id", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    e = e.localCheckpoint()  # consumed by three joins below
    # wedges from the smallest corner: (s -> t1, s -> t2), t1 "before" t2
    # in the same orientation order — exactly the pairs whose closing
    # oriented edge would be (t1, t2)
    e2 = e.select(F.col("s").alias("s2"), F.col("t").alias("t2"))
    wedges = e.join(e2, F.col("s") == F.col("s2")).filter(
        F.col("t") != F.col("t2")
    ).select("s", "t", "t2")
    # a wedge (t, t2) closes iff the oriented edge t->t2 exists; only
    # one of the two wedge orders can match (the orientation is a total
    # order), so each triangle is counted exactly ONCE, at its
    # smallest-degree corner
    closing = e.select(F.col("s").alias("t"), F.col("t").alias("t2"))
    tri = wedges.join(closing, ["t", "t2"], "left_semi")
    # each triangle contributes its three corners; an explode of the
    # corner array folds them in ONE evaluation of the wedge/semi-join
    # subtree — a 3-branch union would re-execute that subtree per
    # branch (Spark plans each union child independently; no subtree
    # sharing), tripling the dominant join cost
    corners = tri.select(
        F.explode(F.array(F.col("s"), F.col("t"), F.col("t2"))).alias("id")
    )
    return corners.groupBy("id").agg(
        F.count(F.lit(1)).alias("triangles")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    per_node: bool = True,
) -> DataFrame:
    """Exact triangle counting on an undirected graph (edge direction
    and duplicates ignored; self-loops dropped).

    Returns (id, triangles) for every vertex of at least one triangle
    when ``per_node`` (the local-clustering numerator), else a single
    (triangles) row.

    Scale shape — **degree orientation**: counting wedges from raw
    edges is quadratic in the hottest vertex's degree (a 10⁷-degree
    hub yields 10¹⁴ wedges). Orienting every edge from its
    (degree, id)-smaller endpoint to its larger one makes each
    triangle countable exactly once from its smallest-degree corner,
    and bounds any vertex's out-degree by O(√m) on arbitrary graphs
    (arboricity on sparse ones) — the standard trick that keeps the
    wedge join sized by Σ out_deg², not Σ deg². Three shuffles total:
    edge canonicalization, the wedge self-join, the closing-edge
    semi-join (plus a node-sized fold for per-node counts).
    """
    und = _canonical_und(edges, src_col, dst_col)
    per = _triangles_per_node(und, _degrees(und, "d"))
    if per_node:
        return per
    # every triangle contributes exactly 3 corner rows
    return per.agg(
        (F.coalesce(F.sum("triangles"), F.lit(0)) / 3)
        .cast("long")
        .alias("triangles")
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``2·triangles / (deg·(deg−1))`` — how close each node's
    neighborhood is to a clique (community-structure signal for graph
    curation). Degree-1 vertices get 0. Shares the canonical edge set
    and degree frame with the triangle stages (computed once), then
    adds one node-sized join."""
    und = _canonical_und(edges, src_col, dst_col)
    deg = _degrees(und, "d")
    tri = _triangles_per_node(und, deg)
    return deg.withColumnRenamed("d", "deg").join(tri, "id", "left").select(
        "id",
        "deg",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") > 1,
            2.0
            * F.coalesce("triangles", F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )


def tree_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_depth: int = 1 << 10,
) -> DataFrame:
    """Ancestor closure of a forest — the workload other engines write
    as a RECURSIVE CTE (org charts, category trees, reply threads),
    which Spark SQL lacks: for every node, the ROOT it hangs under and
    its depth (edges to the root). Root nodes themselves appear with
    ``depth 0``.

    **Pointer doubling**, not per-level iteration: round r rewrites
    every node's ancestor pointer to its ancestor's ancestor and adds
    the two depths, so after r rounds each pointer has jumped
    ``2^r`` levels — ``ceil(log2(max_depth))`` self-joins total
    (10 rounds cover depth 1024), each ONE shuffle on the ancestor key
    over a node-sized frame, pinned with ``localCheckpoint`` so lineage
    stays one round deep. A per-level loop would cost ``max_depth``
    joins; a recursive CTE in a single engine does the same work this
    does, serially.

    Input rows are (child, parent) pointers — at most one parent per
    child (duplicates are dropped; a child with two distinct parents
    raises, the structure isn't a forest). Nodes on a CYCLE never reach
    a root; any node still unresolved after the doubling rounds (on a
    cycle, or deeper than ``max_depth``) is returned with ``root``
    **and** ``depth`` both NULL so the caller can quarantine it (a
    silent wrong root would poison every rollup over the hierarchy; a
    partial depth for an unresolved node would be equally misleading).
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    c, p = F.col(child_col), F.col(parent_col)
    ptr = (
        edges.select(c.alias("id"), p.alias("anc"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    multi = (
        ptr.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if multi:
        raise ValueError(
            f"node {multi[0]['id']!r} has multiple parents — not a forest"
        )

    def jump(state, _):
        hop = state.select(
            F.col("id").alias("__a"),
            F.col("anc").alias("__anc2"),
            F.col("depth").alias("__d2"),
        )
        return state.join(hop, state["anc"] == hop["__a"], "left").select(
            "id",
            F.coalesce("__anc2", "anc").alias("anc"),
            (F.col("depth") + F.coalesce("__d2", F.lit(0))).alias("depth"),
        )

    state = _rounds(
        ptr.select("id", "anc", F.lit(1).cast("long").alias("depth")),
        jump, max(1, (max_depth - 1).bit_length()),
    )
    # a chain TERMINATED iff its final ancestor has no parent pointer of
    # its own (anc not among ptr's children); anything still pointing at
    # a child after full doubling sits on a cycle (or exceeds max_depth)
    children = ptr.select("id")
    unfinished = children.select(F.col("id").alias("__c"))
    out = state.join(
        unfinished, state["anc"] == unfinished["__c"], "left"
    ).select(
        "id",
        F.when(F.col("__c").isNull(), F.col("anc")).alias("root"),
        F.when(F.col("__c").isNull(), F.col("depth")).alias("depth"),
    )
    # roots: referenced as a parent but never a child — depth-0 rows
    roots = (
        ptr.select(F.col("anc").alias("id"))
        .distinct()
        .join(children, "id", "left_anti")
    )
    return out.unionByName(
        roots.select(
            "id",
            F.col("id").alias("root"),
            F.lit(0).cast("long").alias("depth"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any source to every
    node reachable within ``max_hops`` — "blast radius" queries
    (how far does an incident/spam seed spread), influence
    neighborhoods, and feature engineering ("distance to nearest
    flagged account"). Returns ``(id, dist)`` with ``dist`` in
    ``[0, max_hops]``; unreachable-within-k nodes are absent (LEFT
    JOIN downstream if a dense frame is needed). Sources not present
    in the edge set still report ``dist`` 0 (a seed is at distance 0
    of itself regardless of degree).

    Level-synchronous frontier expansion, ``max_hops`` fixed rounds
    (the SQL-replayable contract shared with ``k_core_fixed`` /
    ``pagerank``: a recursive-CTE oracle replays round-for-round; BFS
    is idempotent past convergence, so extra rounds only run empty
    joins). Each round is ONE join of the frontier against the
    adjacency list + one anti-join against the settled set — all
    frontier-sized, never path-enumerating (the naive recursive walk
    explodes paths; settling each node once is what makes BFS linear
    in edges). Only the per-hop FRONTIER is eagerly pinned; the
    settled set stays a flat union of the already-pinned frontiers, so
    lineage is still one round deep but the O(V) settled set is never
    re-copied every round (re-checkpointing the union cost one extra
    eager job per hop and a full settled-set copy). So the loop is its
    own, not :func:`_rounds`: a round's state is the pinned frontier
    plus the unpinned settled union and two running counts, which a
    one-frame step would carry outside its state, in no fewer lines.

    Join rule from each round's frontier count (one job on the pinned
    frontier); the settled set, which only grows, follows the same
    bound on its running count. Hop distances are exact integers, so
    the join strategy cannot change the result.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    s, d = F.col(src_col), F.col(dst_col)
    adj = edges.filter(s != d).select(s.alias("src"), d.alias("dst"))
    if not directed:
        adj = adj.unionAll(
            edges.filter(s != d).select(d.alias("src"), s.alias("dst"))
        )
    with _EdgeSide(adj.distinct()) as edge_side:
        dist = frontier = (
            sources.select(F.col(id_col).alias("id"))
            .distinct()
            .select("id", F.lit(0).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        f_rows = settled_rows = _rows(dist)
        for hop in range(1, max_hops + 1):
            reached = (
                edge_side.join(frontier.select("id"), f_rows)
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            frontier = (
                reached.join(
                    _broadcast_within(dist.select("id"), settled_rows),
                    "id",
                    "left_anti",
                )
                .select("id", F.lit(hop).cast("long").alias("dist"))
                .localCheckpoint(eager=True)
            )
            dist = dist.unionAll(frontier)
            if hop < max_hops:  # after the last hop no count is read
                f_rows = _rows(frontier)
                settled_rows += f_rows
    return dist


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    id_col: str = "id",
    directed: bool = False,
) -> DataFrame:
    """Multi-source weighted shortest paths, Bellman–Ford unrolled to
    exactly ``rounds`` relaxation rounds — the cost-aware sibling of
    :func:`bfs_hops` (hops answer "how far"; weighted costs answer
    "how expensive": latency-weighted network paths, trust-discounted
    influence, cheapest multi-leg routes). Returns ``(id, cost)`` =
    the minimum total weight over paths of ≤ ``rounds`` edges from any
    source; nodes unreachable within that bound are absent, sources
    cost 0. Non-negative weights recommended (negative weights are
    admitted — the fixed round count bounds path length so there is no
    cycle divergence — but then ``cost`` is only the ≤-rounds optimum,
    not the global one).

    Each round relaxes the WHOLE frontier-so-far: one join of the
    current distance frame against the adjacency list + one
    min-aggregate on the destination (an exchange), both
    distance-frame-sized — never path-enumerating (the oracle's
    recursive CTE enumerates path costs and dedups; this keeps one row
    per node throughout). ``localCheckpoint`` pins each round.

    Join rule from the distance frame's count, taken on the round's
    pinned frame and no longer once past the bound (the frame only
    grows). The per-node min over candidate costs is order-independent
    (exact float comparison, no accumulation), so the join strategy
    cannot change the result.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    s, d, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    adj = edges.filter(s != d).select(
        s.alias("src"), d.alias("dst"), w.alias("w")
    )
    if not directed:
        adj = adj.unionAll(
            edges.filter(s != d).select(
                d.alias("src"), s.alias("dst"), w.alias("w")
            )
        )
    edge_side = _EdgeSide(adj.groupBy("src", "dst").agg(F.min("w").alias("w")))
    dist = (
        sources.select(F.col(id_col).alias("id"))
        .distinct()
        .select("id", F.lit(0).cast("long").alias("cost"))
        .localCheckpoint(eager=True)
    )
    rows = _rows(dist)

    def relax(dist, i):
        nonlocal rows
        if i and rows <= BROADCAST_MAX_NODES:
            # the frame only grows: past the bound it never fits again
            rows = _rows(dist)
        relaxed = edge_side.join(dist, rows).select(
            F.col("dst").alias("id"), (F.col("cost") + F.col("w")).alias("cost")
        )
        return dist.unionByName(relaxed).groupBy("id").agg(F.min("cost").alias("cost"))

    with edge_side:
        return _rounds(dist, relax, rounds)


def _peel(und, alive, rows):
    """One k-core peel: keep the edges of ``und`` whose both endpoints
    are in ``alive`` (``rows`` survivors, under the one join rule),
    pinned."""
    a_u = _broadcast_within(alive.select(F.col("id").alias("u")), rows)
    a_v = _broadcast_within(alive.select(F.col("id").alias("v")), rows)
    return (
        und.join(a_u, "u", "left_semi")
        .join(a_v, "v", "left_semi")
        .localCheckpoint()
    )


# k_core and k_core_fixed keep their own loops: each round pins two
# frames (the survivors, read by the count and both semi-joins, then the
# peeled edges), and k_core tests convergence between the two. On
# _rounds, which pins one frame per round, the survivor pin and the
# counts would move into the step, and the loops would not get shorter.


def k_core_fixed(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exactly ``rounds`` peel iterations of k-core decomposition —
    the SQL-replayable twin of :func:`k_core` (no data-dependent
    convergence probe, so an oracle can replay it as ``rounds`` nested
    CTE peels, the same unrolling contract as ``pagerank``'s
    ``pagerank_fixed`` gate).

    Round i recomputes degrees on the surviving induced subgraph and
    keeps vertices of degree ≥ k; the returned (id, core_degree) pairs
    carry degrees measured on the round-(rounds−1) edge set, matching
    ``k_core``'s fixpoint output whenever ``rounds`` covers the
    graph's peel depth. Same per-round shape as ``k_core``: one
    node-degree aggregate + two semi-joins over a strictly shrinking
    edge set, each round's frame pinned with ``localCheckpoint`` so
    lineage (and recompute on failure) stays one round deep.

    Join rule from the round-0 survivor count, taken once: survivors
    only shrink, so a fitting round-0 frame fits every round, and a
    per-round re-count measured slower (the extra job per peel cost
    more than it informed). Set membership is exact, so the strategy
    cannot change the result.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    und = _canonical_und(edges, src_col, dst_col)
    n = None
    for i in range(rounds):
        alive = _degrees(und, "core_degree").filter(F.col("core_degree") >= k)
        if i < rounds - 1:
            alive = alive.localCheckpoint()
            if n is None:
                n = _rows(alive)
            und = _peel(und, alive, n)
    return alive


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex
    keeps degree ≥ k (spam/link-farm subgraphs and dense communities
    surface as high-k cores; isolated chaff peels away). Returns
    (id, core_degree) — the vertex's degree within the core.

    Iterative peeling: drop sub-k vertices, recompute degrees on the
    induced subgraph, repeat to fixed point. Each round is one
    semi-join (edges against surviving vertices on both endpoints) +
    one degree aggregate over a strictly shrinking edge set, with the
    same eager ``localCheckpoint`` lineage discipline as
    ``connected_components``/``pagerank``; convergence is witnessed by
    the surviving-vertex count (one scalar per round). The iteration
    count is bounded by the peel depth (≤ vertex count; in practice a
    handful of rounds), ``max_iter`` guards pathological chains. Join
    rule from that per-round survivor count.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _canonical_und(edges, src_col, dst_col)
    prev_n = None
    for _ in range(max_iter):
        alive = (
            _degrees(und, "core_degree")
            .filter(F.col("core_degree") >= k)
            .localCheckpoint()
        )
        n = _rows(alive)
        if n == prev_n or n == 0:
            return alive
        prev_n = n
        und = _peel(und, alive, n)
    return alive
