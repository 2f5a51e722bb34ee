"""Persisted IVF index lifecycle: append / purge / compact with the
crash-safe staged swap — the ANN twin of the incremental dedup indexes'
maintenance contract."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from blueetl_spark.operators import similarity as sim


def _vectors(spark, ids, seed=0, dim=8):
    rng = np.random.default_rng(seed)
    rows = []
    for i in ids:
        v = rng.normal(size=dim)
        rows.append((int(i), [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def index(spark, tmp_path):
    corpus = _vectors(spark, range(100), seed=1)
    idx = str(tmp_path / "ivf")
    info = sim.build_ivf_index(corpus, idx, n_centroids=4, seed=7)
    assert info["n_vectors"] == 100
    return idx, corpus


def _hits(spark, queries, idx, **kw):
    out = sim.search_ivf_index(spark, queries, idx, k=5, n_probe=4, **kw)
    return {r.neighbor_id for r in out.collect()}


def test_append_then_search_finds_new_vectors(spark, index):
    idx, corpus = index
    new = _vectors(spark, range(1000, 1010), seed=2)
    n = sim.append_ivf_index(new, idx)
    assert n == 10
    # querying WITH one of the new vectors finds its exact twin at rank 1
    q = new.filter(F.col("vec_id") == 1000).select(
        F.lit(9999).alias("vec_id"), "embedding"
    )
    out = sim.search_ivf_index(spark, q, idx, k=1, n_probe=4).collect()
    assert [r.neighbor_id for r in out] == [1000]
    assert out[0].cosine == pytest.approx(1.0)


def test_purge_excludes_and_compact_folds(spark, index):
    idx, corpus = index
    q = _vectors(spark, [5000], seed=3)
    before = _hits(spark, q, idx)
    assert before  # some neighbors exist
    victim = sorted(before)[0]
    sim.purge_ivf_index(
        spark.createDataFrame([(victim,)], "vec_id long"), idx
    )
    assert victim not in _hits(spark, q, idx)
    n = sim.compact_ivf_index(spark, idx)
    assert n == 99
    assert victim not in _hits(spark, q, idx)
    # tombstone table gone; a second compact is a no-op count
    assert sim.compact_ivf_index(spark, idx) == 99


def test_compact_swap_crash_recovery(spark, index):
    """Both swap interruption points leave the index searchable."""
    idx, corpus = index
    q = _vectors(spark, [6000], seed=4)
    baseline = _hits(spark, q, idx)
    assign = f"{idx}/assignments.parquet"

    # point 1: backup renamed, publish never happened
    staged = f"{idx}/.stage.parquet"
    shutil.copytree(assign, staged)
    shutil.move(assign, assign + ".old")
    assert _hits(spark, q, idx) == baseline  # recovered to old state
    shutil.rmtree(staged, ignore_errors=True)

    # point 2: published, stale backup left behind
    shutil.copytree(assign, assign + ".old")
    assert _hits(spark, q, idx) == baseline
    import os

    assert not os.path.exists(assign + ".old")  # backup cleaned


def test_append_after_interrupted_compaction_keeps_history(spark, index):
    """A compaction stopped after its backup rename leaves the history in
    ``assignments.parquet.old``. An append must restore it first: an
    append into a fresh dir would make the next search's recovery take
    the 10-vector dir as the new state and drop the 100-vector backup."""
    idx, corpus = index
    assign = f"{idx}/assignments.parquet"
    shutil.move(assign, assign + ".old")
    assert sim.append_ivf_index(_vectors(spark, range(1000, 1010), seed=2), idx) == 10
    q = _vectors(spark, [9999], seed=3)
    out = sim.search_ivf_index(spark, q, idx, k=200, n_probe=4)
    assert out.select("neighbor_id").distinct().count() == 110


def test_replay_duplicate_appends_fold_out(spark, index):
    """An at-least-once replay calls append_ivf_index twice for the same
    vectors (ADVICE r6): search must still return k DISTINCT neighbors
    (dense rank over the duplicate pair rows), and compact_ivf_index
    rewrites one assignment row per id."""
    idx, corpus = index
    new = _vectors(spark, range(2000, 2005), seed=5)
    assert sim.append_ivf_index(new, idx) == 5
    assert sim.append_ivf_index(new, idx) == 5  # the replayed attempt

    q = new.filter(F.col("vec_id") == 2000).select(
        F.lit(9999).alias("vec_id"), "embedding"
    )
    out = sim.search_ivf_index(spark, q, idx, k=5, n_probe=4).orderBy(
        "rank"
    ).collect()
    ids = [r.neighbor_id for r in out]
    assert len(ids) == len(set(ids)) == 5  # k distinct, no slot shrink
    assert 2000 in ids and out[0].rank == 1

    # compaction dedupes: 100 base + 5 appended (once)
    assert sim.compact_ivf_index(spark, idx) == 105
    after = sim.search_ivf_index(spark, q, idx, k=5, n_probe=4).collect()
    assert {(r.neighbor_id, r.rank) for r in after} == {
        (r.neighbor_id, r.rank) for r in out
    }


def test_ann_recall_counts_hits_per_query(spark):
    """Recall is per-query hit fraction against the exact baseline:
    full overlap -> 1.0, partial -> the exact ratio, disjoint -> 0.0;
    duplicate approximate rows don't double-count; approximate-only
    neighbors never inflate n_exact."""
    from pyspark.sql import functions as F  # noqa: F401

    from blueetl_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11), (1, 99),   # dup + false positive
         (2, 22),                              # all misses
         (3, 30)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in ann_recall(approx, exact).collect()
    }
    assert got[1] == (3, 2, round(2 / 3, 6))
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (1, 1, 1.0)


def test_mmr_select_diversity_and_reference(spark):
    """MMR picks relevant-but-diverse items (plain top-k would take the
    whole top cluster), matches an independent numpy greedy replay,
    respects per-group isolation, and enforces the rerank candidate
    bound."""
    import numpy as np
    import pytest as _pytest

    from blueetl_spark.operators.similarity import mmr_select

    rows = [
        (1, [1.0, 0.0], 0.9), (2, [0.99, 0.14], 0.89), (3, [0.98, 0.2], 0.88),
        (4, [0.0, 1.0], 0.5), (5, [0.1, 0.99], 0.49), (6, [-1.0, 0.0], 0.2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, score double"
    )
    out = mmr_select(df, k=3, lam=0.5).orderBy("mmr_rank").collect()
    assert [r.vec_id for r in out] == [1, 6, 4]  # top cluster NOT swept
    assert out[0].mmr_score == 0.9  # rank 0 = pure relevance

    def ref(rows, k, lam):
        ids = [r[0] for r in rows]
        x = np.array([r[1] for r in rows], float)
        rel = np.array([r[2] for r in rows])
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        alive = np.ones(len(ids), bool)
        max_sim = np.full(len(ids), -np.inf)
        sel = []
        for step in range(k):
            obj = rel if step == 0 else lam * rel - (1 - lam) * max_sim
            obj = np.where(alive, obj, -np.inf)
            i = int(np.argmax(obj))
            sel.append(ids[i])
            alive[i] = False
            sims = xn @ xn[i]
            max_sim = (
                np.where(alive, sims, -np.inf)
                if step == 0
                else np.maximum(max_sim, sims)
            )
        return sel

    rng = np.random.default_rng(11)
    big = [
        (int(i), rng.normal(size=4).tolist(), float(rng.random()))
        for i in range(60)
    ]
    bdf = spark.createDataFrame(
        big, "vec_id long, embedding array<double>, score double"
    )
    got = [
        r.vec_id
        for r in mmr_select(bdf, k=8, lam=0.7).orderBy("mmr_rank").collect()
    ]
    assert got == ref(big, 8, 0.7)

    grouped = bdf.withColumn("g", (F.col("vec_id") % 2).cast("int"))
    gout = mmr_select(grouped, k=5, by=["g"]).collect()
    assert len(gout) == 10
    for r in gout:
        assert r.vec_id % 2 == r.g  # picks never cross groups

    with _pytest.raises(Exception, match="max_candidates"):
        mmr_select(bdf, k=3, max_candidates=10).collect()
    with _pytest.raises(ValueError, match="lam"):
        mmr_select(bdf, k=3, lam=1.5)
