"""PageRank vs a numpy power-iteration oracle, plus the edge cases a
crawl graph actually has (dangling pages, isolated pages, self-links,
duplicate edges)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blueetl_spark.operators.graph import pagerank, quality_weights


def _numpy_pagerank(n, edges, damping=0.85, n_iter=20):
    """Matrix power iteration with exact dangling redistribution."""
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dmass = r[out_deg == 0].sum()
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[d] += r[s] / out_deg[s]
        r = (1 - damping) / n + damping * (contrib + dmass / n)
    return r


EDGES = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # 4 linked + dangling-free core


@pytest.fixture()
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_pagerank_matches_numpy(spark, edges_df):
    got = {
        r["id"]: r["rank"]
        for r in pagerank(edges_df, max_iter=20, tol=0.0).collect()
    }
    exp = _numpy_pagerank(4, EDGES)
    assert set(got) == {0, 1, 2, 3}
    for i in range(4):
        assert got[i] == pytest.approx(exp[i], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_dangling_and_isolated(spark):
    # 0 -> 1, 1 dangles; node 7 is isolated (only via `nodes`)
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (7,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(e, nodes=nodes, max_iter=30, tol=0.0).collect()
    }
    exp = _numpy_pagerank(3, [(0, 1)], n_iter=30)  # ids 0,1 + isolated 2
    assert got[0] == pytest.approx(exp[0], rel=1e-9)
    assert got[1] == pytest.approx(exp[1], rel=1e-9)
    assert got[7] == pytest.approx(exp[2], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # mass conservation with dangling nodes is the bug these tests exist
    # for; 0 and 7 both have zero in-links, so their ranks coincide
    assert got[1] > got[0]
    assert got[0] == pytest.approx(got[7], rel=1e-12)


def test_pagerank_ignores_self_loops_and_duplicate_edges(spark, edges_df):
    noisy = edges_df.union(
        edges_df.limit(2)  # duplicates
    ).union(
        edges_df.sparkSession.createDataFrame([(1, 1)], "src long, dst long")
    )
    clean = {r["id"]: r["rank"] for r in pagerank(edges_df, tol=0.0, max_iter=10).collect()}
    got = {r["id"]: r["rank"] for r in pagerank(noisy, tol=0.0, max_iter=10).collect()}
    for i in clean:
        assert got[i] == pytest.approx(clean[i], rel=1e-9)


def test_pagerank_converges_early(spark, edges_df):
    # tol large enough to stop after a couple of rounds; ranks still a
    # probability vector
    got = pagerank(edges_df, max_iter=50, tol=1e-3).agg(
        F.sum("rank").alias("s")
    ).collect()[0]["s"]
    assert got == pytest.approx(1.0, rel=1e-9)


def test_pagerank_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank(e).count() == 0


def test_quality_weights(spark, edges_df):
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(5)], "doc_id long, text string")
    out = quality_weights(docs, edges_df, max_iter=10)
    rows = {r["doc_id"]: r["quality_weight"] for r in out.collect()}
    assert set(rows) == set(range(5))
    # weights are normalized to mean 1 over the rank universe; well-linked
    # node 2 beats the isolated doc 4
    assert rows[2] > 1.0 > rows[4] > 0.0
    assert out.columns == ["doc_id", "text", "quality_weight"]


def _numpy_ppr(n, edges, w, damping=0.85, n_iter=20):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    w = np.asarray(w, dtype=float)
    w = w / w.sum()
    r = w.copy()
    for _ in range(n_iter):
        dmass = r[out_deg == 0].sum()
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[d] += r[s] / out_deg[s]
        r = (1 - damping) * w + damping * (dmass * w + contrib)
    return r


def test_personalized_pagerank_matches_numpy(spark, edges_df):
    """Teleport mass concentrated on node 0: ranks measure link
    proximity to the seed; mass still sums to 1."""
    pers = spark.createDataFrame([(0, 2.0)], "id long, weight double")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(
            edges_df, max_iter=20, tol=0.0, personalization=pers
        ).collect()
    }
    exp = _numpy_ppr(4, EDGES, [1.0, 0.0, 0.0, 0.0])
    for i in range(4):
        assert got[i] == pytest.approx(exp[i], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    # node 3 has no inlinks and no teleport weight -> exactly 0
    assert got[3] == 0.0


def test_personalized_uniform_weights_equal_plain_pagerank(spark, edges_df):
    """A constant weight vector must reproduce plain PageRank (same
    fixed point, same per-iteration values up to float assoc)."""
    pers = spark.createDataFrame(
        [(i, 7.5) for i in range(4)], "id long, weight double"
    )
    plain = {
        r["id"]: r["rank"]
        for r in pagerank(edges_df, max_iter=10, tol=0.0).collect()
    }
    ppr = {
        r["id"]: r["rank"]
        for r in pagerank(
            edges_df, max_iter=10, tol=0.0, personalization=pers
        ).collect()
    }
    for i in range(4):
        assert ppr[i] == pytest.approx(plain[i], rel=1e-12)


def test_personalized_pagerank_rejects_zero_weights(spark, edges_df):
    pers = spark.createDataFrame([(0, 0.0)], "id long, weight double")
    with pytest.raises(ValueError, match="positive sum"):
        pagerank(edges_df, personalization=pers)


def _brute_triangles(edges):
    import collections
    import itertools

    adj = collections.defaultdict(set)
    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        adj[a].add(b)
        adj[b].add(a)
        nodes |= {a, b}
    per = collections.Counter()
    tot = 0
    for x, y, z in itertools.combinations(sorted(nodes), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            tot += 1
            per[x] += 1
            per[y] += 1
            per[z] += 1
    return tot, dict(per)


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented counting vs O(n³) enumeration on random graphs;
    duplicate/reversed edges and self-loops must not change counts."""
    import random

    from blueetl_spark.operators.graph import triangle_count

    rng = random.Random(11)
    for _ in range(3):
        edges = [(rng.randrange(12), rng.randrange(12)) for _ in range(40)]
        noisy = edges + [(b, a) for a, b in edges[:10]] + [(3, 3)]
        df = spark.createDataFrame(noisy, "src long, dst long")
        tot_exp, per_exp = _brute_triangles(edges)
        tot = triangle_count(df, per_node=False).collect()[0]["triangles"]
        per = {r["id"]: r["triangles"] for r in triangle_count(df).collect()}
        assert tot == tot_exp
        assert per == per_exp


def test_triangle_count_triangle_free(spark):
    from blueetl_spark.operators.graph import triangle_count

    # a star has wedges but no triangles
    df = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    assert triangle_count(df, per_node=False).collect()[0]["triangles"] == 0
    assert triangle_count(df).count() == 0


def test_clustering_coefficient(spark):
    from blueetl_spark.operators.graph import clustering_coefficient

    # triangle 0-1-2 plus pendant 3 attached to 0
    edges = [(0, 1), (1, 2), (2, 0), (0, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: (r["deg"], r["triangles"], r["coeff"])
           for r in clustering_coefficient(df).collect()}
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[0] == (3, 1, pytest.approx(1 / 3))
    assert got[3] == (1, 0, 0.0)  # degree-1: defined as 0


def test_personalized_pagerank_normalizes_over_vertices(spark, edges_df):
    """Weights on non-vertices carry no mass and must not dilute the
    teleport vector; duplicate seed rows fold; negatives raise."""
    pers = spark.createDataFrame(
        [(0, 1.0), (0, 1.0), (999, 50.0)], "id long, weight double"
    )
    got = {
        r["id"]: r["rank"]
        for r in pagerank(
            edges_df, max_iter=20, tol=0.0, personalization=pers
        ).collect()
    }
    assert len(got) == 4  # no duplicate rank rows
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    exp = _numpy_ppr(4, EDGES, [1.0, 0.0, 0.0, 0.0])
    for i in range(4):
        assert got[i] == pytest.approx(exp[i], rel=1e-9)
    neg = spark.createDataFrame([(0, 2.0), (1, -1.0)], "id long, weight double")
    with pytest.raises(ValueError, match="non-negative"):
        pagerank(edges_df, personalization=neg)


def _brute_kcore(edges, k):
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    return {n: len(v) for n, v in adj.items()}


def test_k_core_matches_bruteforce(spark):
    import random

    from blueetl_spark.operators.graph import k_core

    rng = random.Random(5)
    for k in (2, 3):
        edges = [(rng.randrange(15), rng.randrange(15)) for _ in range(45)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["core_degree"] for r in k_core(df, k).collect()}
        assert got == _brute_kcore(edges, k)


def test_k_core_empty_and_validation(spark):
    from blueetl_spark.operators.graph import k_core

    tri = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    assert k_core(tri, 3).count() == 0  # a triangle has no 3-core
    got = {r["id"]: r["core_degree"] for r in k_core(tri, 2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    with pytest.raises(ValueError, match="k must be"):
        k_core(tri, 0)


def _brute_peel_rounds(edges, k, rounds):
    """Sequential replay of exactly ``rounds`` peel iterations."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    adj = {n: v for n, v in adj.items() if v}
    out: dict[int, int] = {}
    for i in range(rounds):
        out = {n: len(v) for n, v in adj.items() if len(v) >= k}
        if i < rounds - 1:
            adj = {
                n: {m for m in v if m in out}
                for n, v in adj.items()
                if n in out
            }
            adj = {n: v for n, v in adj.items()}
    return out


def test_k_core_fixed_matches_sequential_peels(spark):
    import random

    from blueetl_spark.operators.graph import k_core_fixed

    rng = random.Random(11)
    edges = [(rng.randrange(18), rng.randrange(18)) for _ in range(50)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 4):
        for rounds in (1, 2, 3):
            got = {
                r["id"]: r["core_degree"]
                for r in k_core_fixed(df, k, rounds).collect()
            }
            assert got == _brute_peel_rounds(edges, k, rounds), (k, rounds)


def test_k_core_fixed_converges_to_k_core(spark):
    import random

    from blueetl_spark.operators.graph import k_core, k_core_fixed

    rng = random.Random(7)
    edges = [(rng.randrange(15), rng.randrange(15)) for _ in range(45)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # 15 vertices bound the peel depth; enough rounds == the fixpoint
    fixed = {
        r["id"]: r["core_degree"] for r in k_core_fixed(df, 3, 15).collect()
    }
    full = {r["id"]: r["core_degree"] for r in k_core(df, 3).collect()}
    assert fixed == full


def test_k_core_fixed_validation(spark):
    from blueetl_spark.operators.graph import k_core_fixed

    tri = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="must be >= 1"):
        k_core_fixed(tri, 0, 3)
    with pytest.raises(ValueError, match="must be >= 1"):
        k_core_fixed(tri, 2, 0)


def test_tree_closure_forest_roots_and_depths(spark):
    from blueetl_spark.operators.graph import tree_closure

    # two trees:  10 -> 1 -> 0   and   21 -> 2,  22 -> 2
    edges = [(1, 0), (10, 1), (21, 2), (22, 2)]
    df = spark.createDataFrame(edges, "child long, parent long")
    got = {
        r["id"]: (r["root"], r["depth"])
        for r in tree_closure(df).collect()
    }
    assert got == {
        0: (0, 0),
        1: (0, 1),
        10: (0, 2),
        2: (2, 0),
        21: (2, 1),
        22: (2, 1),
    }


def test_tree_closure_deep_chain_pointer_doubling(spark):
    from blueetl_spark.operators.graph import tree_closure

    # chain 0 <- 1 <- 2 <- ... <- 40: depth 40 needs 6 doublings
    edges = [(i + 1, i) for i in range(40)]
    df = spark.createDataFrame(edges, "child long, parent long")
    got = {
        r["id"]: (r["root"], r["depth"])
        for r in tree_closure(df, max_depth=64).collect()
    }
    assert got[40] == (0, 40)
    assert got[1] == (0, 1)
    assert got[0] == (0, 0)
    assert len(got) == 41


def test_tree_closure_cycle_quarantined(spark):
    from blueetl_spark.operators.graph import tree_closure

    # 5 -> 6 -> 7 -> 5 cycle plus a clean edge 9 -> 8
    edges = [(5, 6), (6, 7), (7, 5), (9, 8)]
    df = spark.createDataFrame(edges, "child long, parent long")
    rows = {r["id"]: r for r in tree_closure(df).collect()}
    for n in (5, 6, 7):
        assert rows[n]["root"] is None and rows[n]["depth"] is None
    assert (rows[9]["root"], rows[9]["depth"]) == (8, 1)
    assert (rows[8]["root"], rows[8]["depth"]) == (8, 0)


def test_tree_closure_rejects_multiple_parents(spark):
    from blueetl_spark.operators.graph import tree_closure

    df = spark.createDataFrame(
        [(1, 2), (1, 3)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="multiple parents"):
        tree_closure(df)
    with pytest.raises(ValueError, match="max_depth"):
        tree_closure(df.limit(1), max_depth=0)


def test_bfs_hops_min_distance_and_edges(spark):
    """Min hop distance from any seed; two seeds race correctly; a
    seed with no edges still reports 0; nodes beyond max_hops are
    absent; the directed flag respects edge orientation."""
    from blueetl_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (8,), (99,)], "id long")
    got = {
        r["id"]: r["dist"]
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    # undirected: 3 is 1 hop from seed 8 (not 2 from seed 1); 5 is
    # 3 hops from everything -> absent; isolated seed 99 reports 0
    assert got == {1: 0, 8: 0, 99: 0, 2: 1, 3: 1, 4: 2}

    directed = {
        r["id"]: r["dist"]
        for r in bfs_hops(
            edges, spark.createDataFrame([(3,)], "id long"),
            max_hops=3, directed=True,
        ).collect()
    }
    # forward only: 3 -> 4 -> 5; the 8->3 and 2->3 in-edges don't count
    assert directed == {3: 0, 4: 1, 5: 2}

    zero = bfs_hops(edges, seeds, max_hops=0).collect()
    assert {r["id"] for r in zero} == {1, 8, 99}
    assert all(r["dist"] == 0 for r in zero)


def test_shortest_paths_min_cost_and_bounds(spark):
    """Cheapest-within-k costs beat fewest-hops when a detour is
    cheaper; parallel edges keep the lighter weight; the round bound
    excludes longer paths; directed respects orientation; seeds cost
    0 even when isolated."""
    from blueetl_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [
            (1, 2, 10), (2, 4, 10),        # 2-hop cost 20 to node 4
            (1, 3, 1), (3, 5, 1), (5, 4, 1),  # 3-hop cost 3 detour
            (1, 2, 7),                      # parallel edge, lighter
        ],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "id long")
    got = {
        r["id"]: r["cost"]
        for r in shortest_paths(edges, seeds, rounds=3).collect()
    }
    assert got[1] == 0 and got[99] == 0
    assert got[2] == 7          # parallel-edge min
    assert got[4] == 3          # the cheap 3-hop detour wins within k=3
    assert got[3] == 1 and got[5] == 2

    two = {
        r["id"]: r["cost"]
        for r in shortest_paths(edges, seeds, rounds=2).collect()
    }
    assert two[4] == 17         # detour needs 3 hops; 2-hop best is 7+10

    directed = {
        r["id"]: r["cost"]
        for r in shortest_paths(
            edges, spark.createDataFrame([(4,)], "id long"),
            rounds=3, directed=True,
        ).collect()
    }
    assert directed == {4: 0}   # node 4 has no out-edges


# One seed: its first frontier (1 row, then 2) fits the bounds 1 and 3,
# so bfs_hops and shortest_paths start broadcast and switch to the edge
# layout partway through the run. The 3-cycle 10-11-12 and the
# 4-cycles keep a non-empty 2-core.
PARITY_EDGES = [
    (1, 2), (1, 3), (2, 3), (2, 4), (2, 5), (3, 6), (3, 7), (4, 8),
    (5, 8), (6, 9), (7, 9), (8, 10), (9, 10), (10, 11), (11, 12), (12, 10),
]


def _parity_ops(spark):
    from blueetl_spark.operators import dedup, graph

    e = spark.createDataFrame(PARITY_EDGES, "src long, dst long")
    we = e.select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 3).alias("weight")
    )
    seed = spark.createDataFrame([(1,)], "id long")
    pers = spark.createDataFrame([(1, 1.0), (9, 2.0)], "id long, weight double")
    return {
        "pagerank": lambda: graph.pagerank(e, max_iter=5, tol=0.0),
        "pagerank_personalized": lambda: graph.pagerank(
            e, max_iter=5, tol=0.0, personalization=pers
        ),
        # stops on the L1 delta after 7 of the 20 rounds
        "pagerank_tol": lambda: graph.pagerank(e, max_iter=20, tol=0.15),
        "bfs_hops": lambda: graph.bfs_hops(e, seed, 5),
        "bfs_hops_directed": lambda: graph.bfs_hops(e, seed, 5, directed=True),
        "shortest_paths": lambda: graph.shortest_paths(we, seed, 5),
        "k_core_fixed": lambda: graph.k_core_fixed(e, k=2, rounds=3),
        "k_core": lambda: graph.k_core(e, k=2),
        "connected_components": lambda: dedup.connected_components(
            e, "src", "dst", max_driver_edges=0
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "pagerank", "pagerank_personalized", "pagerank_tol", "bfs_hops",
        "bfs_hops_directed", "shortest_paths", "k_core_fixed", "k_core",
        "connected_components",
    ],
)
def test_broadcast_bound_does_not_change_results(spark, monkeypatch, op):
    """``graph.BROADCAST_MAX_NODES`` only picks the join strategy: every
    bound gives the default's rows. Ints and mins are compared exactly;
    ranks after rounding to 9 dp (the broadcast shape sums each dst's
    contributions in another order, ~1e-15 relative). The edge layout is
    built at most once per call."""
    from blueetl_spark.operators import graph

    layouts = []

    def counting(edges, key):
        layouts.append(key)
        return laid_out(edges, key)

    laid_out = graph.laid_out
    monkeypatch.setattr(graph, "laid_out", counting)
    run = _parity_ops(spark)[op]

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    default = rows(run())
    assert default
    assert layouts == []
    for bound in (0, 1, 3):
        layouts.clear()
        monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", bound)
        assert rows(run()) == default, bound
        assert len(layouts) == (0 if op.startswith("k_core") else 1), bound


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize("bound", [0, None], ids=["layout", "broadcast"])
def test_edge_layout_is_released(spark, monkeypatch, bound):
    """Each iterative operator leaves the session's cached-data registry
    as it found it, in both regimes: the edge layout (and the persisted
    edge list of connected_components) is unpersisted before return.
    ``getPersistentRDDs`` would also list the localCheckpoint blocks."""
    from blueetl_spark.operators import dedup, graph

    ops = _parity_ops(spark)
    if bound is not None:
        monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", bound)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    calls = {name: ops[name] for name in ("pagerank", "bfs_hops", "shortest_paths")}
    calls["connected_components"] = lambda: dedup.connected_components(
        pairs, max_driver_edges=0
    )
    for name, call in calls.items():
        before = _cache_entries(spark)
        out = call()
        assert _cache_entries(spark) == before, name
        assert out.count() > 0


def test_rows_counts_a_pinned_frame_in_one_job(spark, count_jobs):
    """``graph._rows`` equals ``count()`` and starts one Spark job on a
    pinned aggregate, where ``count()`` under AQE starts two."""
    from blueetl_spark.operators import graph

    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 37).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n, jobs = count_jobs(lambda: graph._rows(df))
    assert n == df.count() == 37
    assert jobs == 1
