"""Product-quantization operator tests (operators/pq.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from blueetl_spark.operators import pq, similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    # clustered corpus: 20 bases x 10 perturbed copies, dim 16
    bases = rng.standard_normal((20, 16))
    rows = []
    for i in range(200):
        v = bases[i % 20] + 0.05 * rng.standard_normal(16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_train_codebooks_shapes_and_determinism(vecs):
    cbs1 = pq.train_pq_codebooks(vecs, n_subspaces=4, n_codes=8, sample_size=100)
    cbs2 = pq.train_pq_codebooks(vecs, n_subspaces=4, n_codes=8, sample_size=100)
    assert len(cbs1) == 4
    assert all(len(cb) == 8 and len(cb[0]) == 4 for cb in cbs1)
    assert cbs1 == cbs2  # seeded end-to-end


def test_train_rejects_indivisible_dim(vecs):
    with pytest.raises(ValueError, match="divisible"):
        pq.train_pq_codebooks(vecs, n_subspaces=5)


def test_encode_matches_numpy_reference(vecs):
    cbs = pq.train_pq_codebooks(vecs, n_subspaces=4, n_codes=8, sample_size=100)
    got = {
        r.vec_id: r.pq_code for r in pq.pq_encode(vecs, cbs).collect()
    }
    raw = {r.vec_id: np.array(r.embedding) for r in vecs.collect()}
    cbs_np = [np.asarray(cb) for cb in cbs]
    for vid, v in raw.items():
        want = []
        for m, cb in enumerate(cbs_np):
            sub = v[m * 4 : (m + 1) * 4]
            want.append(int(np.argmin(((sub - cb) ** 2).sum(axis=1))))
        assert got[vid] == want, vid


def test_encode_drop_vec_projects_payload_away(vecs):
    cbs = pq.subvector_codebooks(vecs, n_subspaces=4, n_codes=8)
    out = pq.pq_encode(vecs, cbs, drop_vec=True)
    assert out.columns == ["vec_id", "pq_code"]
    assert out.count() == 200


def test_adc_search_exact_on_reconstruction(vecs):
    """ADC distance == true squared L2 to the PQ reconstruction, so a
    numpy replay over the codes must reproduce the ranking exactly."""
    cbs = pq.train_pq_codebooks(vecs, n_subspaces=4, n_codes=8, sample_size=100)
    codes = pq.pq_encode(vecs, cbs)
    queries = vecs.filter(F.col("vec_id") < 3)
    out = pq.adc_search(queries, codes, cbs, k=4).collect()

    raw = {r.vec_id: np.array(r.embedding) for r in vecs.collect()}
    code_map = {r.vec_id: r.pq_code for r in codes.collect()}
    cbs_np = [np.asarray(cb) for cb in cbs]
    recon = {
        vid: np.concatenate([cbs_np[m][c] for m, c in enumerate(cs)])
        for vid, cs in code_map.items()
    }
    for qid in range(3):
        dists = sorted(
            (round(float(((raw[qid] - r) ** 2).sum()), 6), nid)
            for nid, r in recon.items()
            if nid != qid
        )
        want = dists[:4]
        got = sorted(
            (r.adc, r.neighbor_id) for r in out if r.query_id == qid
        )
        assert [(pytest.approx(d, abs=2e-6), n) for d, n in want] == got

    ranks = sorted(r.rank for r in out if r.query_id == 0)
    assert ranks == [1, 2, 3, 4]


def test_adc_recall_on_clustered_vectors(vecs):
    """PQ at 4x8 on tightly clustered unit vectors: quantization collapses
    same-cluster copies onto (near-)identical codes, so exact-neighbor
    identity is not preserved — but the retrieved top-1 must come from the
    query's own cluster (vec_id % 20) for nearly all queries, and exact
    search agrees on the cluster, so this is the recall that matters."""
    cbs = pq.train_pq_codebooks(vecs, n_subspaces=4, n_codes=8, sample_size=200)
    codes = pq.pq_encode(vecs, cbs)
    queries = vecs.filter(F.col("vec_id") < 20)
    approx = {
        r.query_id: r.neighbor_id
        for r in pq.adc_search(queries, codes, cbs, k=1).collect()
    }
    exact = {
        r.query_id: r.neighbor_id
        for r in similarity.knn_bruteforce(queries, vecs, k=1).collect()
    }
    assert all(exact[q] % 20 == q % 20 for q in exact)  # geometry sanity
    hits = sum(approx[q] % 20 == q % 20 for q in approx)
    assert hits >= 18  # >= 90% same-cluster top-1 retrieval


def test_adc_search_query_cap(vecs):
    cbs = pq.subvector_codebooks(vecs, n_subspaces=4, n_codes=8)
    codes = pq.pq_encode(vecs, cbs)
    with pytest.raises(ValueError, match="max_queries"):
        pq.adc_search(vecs, codes, cbs, k=2, max_queries=10)


def test_adc_search_empty_queries(vecs):
    cbs = pq.subvector_codebooks(vecs, n_subspaces=4, n_codes=8)
    codes = pq.pq_encode(vecs, cbs)
    out = pq.adc_search(vecs.filter(F.col("vec_id") < 0), codes, cbs, k=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "adc", "rank"]


def test_subvector_codebooks_reject_indivisible_dim(vecs):
    with pytest.raises(ValueError, match="divisible"):
        pq.subvector_codebooks(vecs, n_subspaces=5)


def test_codebook_shape_mismatch_rejected(vecs):
    bad = [[[0.0] * 4] * 8, [[0.0] * 3] * 8]
    with pytest.raises(ValueError, match="shape"):
        pq.pq_encode(vecs, bad)


def test_ivf_pq_index_roundtrip(vecs, spark, tmp_path):
    """Build + search: deterministic across runs, partition-pruned scan,
    and same-cluster retrieval through the residual-encoded index."""
    path = str(tmp_path / "ivfpq")
    info = pq.build_ivf_pq_index(
        vecs, path, n_centroids=8, n_subspaces=4, n_codes=16
    )
    assert {k: info[k] for k in ("n_centroids", "n_subspaces", "n_vectors")} == {
        "n_centroids": 8, "n_subspaces": 4, "n_vectors": 200
    }
    assert info["adc_distortion"]["p99"] >= 0.0

    queries = vecs.filter(F.col("vec_id") < 20)
    out = pq.search_ivf_pq_index(spark, queries, path, k=3, n_probe=3)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "cell" in plan

    rows1 = sorted(map(tuple, out.collect()))
    rows2 = sorted(
        map(tuple, pq.search_ivf_pq_index(spark, queries, path, k=3, n_probe=3).collect())
    )
    assert rows1 == rows2  # deterministic
    top1 = {r.query_id: r.neighbor_id for r in out.collect() if r.rank == 1}
    hits = sum(n % 20 == q % 20 for q, n in top1.items())
    assert hits >= 16  # residual PQ + 3-probe on easy cluster geometry


def test_ivf_pq_search_query_cap(vecs, spark, tmp_path):
    path = str(tmp_path / "ivfpq_cap")
    pq.build_ivf_pq_index(vecs, path, n_centroids=4, n_subspaces=4, n_codes=8)
    with pytest.raises(ValueError, match="max_queries"):
        pq.search_ivf_pq_index(spark, vecs, path, k=2, max_queries=10)


def test_hard_negatives_excludes_same_label(spark):
    """Top-k negatives: never the query's own label, ranked by cosine
    desc with id tie-break; identical vectors with different labels are
    the hardest negatives and rank first."""
    from blueetl_spark.operators import similarity

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [1.0, 0.0], "a"),      # same label as 0: never a negative for 0
        (2, [1.0, 0.01], "b"),     # near-identical, different label: rank 1
        (3, [0.0, 1.0], "b"),      # orthogonal: last
        (4, [0.9, 0.1], "c"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    q = df.filter("vec_id = 0")
    out = similarity.hard_negatives(q, df, k=3).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [2, 4, 3]
    assert all(r["neighbor_label"] != "a" for r in out)
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["cosine"] > 0.99


def test_ivf_pq_index_lifecycle(vecs, spark, tmp_path):
    """append / purge / compact on the persisted IVF-PQ index (the flat
    IVF lifecycle, r7): stored-codebook incremental ingest, tombstone
    exclusion at search, replay-duplicate folding, crash-safe compact."""
    path = str(tmp_path / "ivfpq")
    info = pq.build_ivf_pq_index(
        vecs, path, n_centroids=4, n_subspaces=4, n_codes=16
    )
    assert info["n_vectors"] == 200

    rng = np.random.default_rng(23)
    new_rows = []
    for i in range(1000, 1010):
        v = rng.standard_normal(16)
        v /= np.linalg.norm(v)
        new_rows.append((i, [float(x) for x in v]))
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    assert pq.append_ivf_pq_index(new, path) == 10
    assert pq.append_ivf_pq_index(new, path) == 10  # the replayed attempt

    # a new vector used as query finds itself-adjacent codes; k distinct
    # neighbors despite the duplicate append
    q = new.filter(F.col("vec_id") == 1000).select(
        F.lit(9999).alias("vec_id"), "embedding"
    )
    out = pq.search_ivf_pq_index(spark, q, path, k=5, n_probe=4).collect()
    ids = [r.neighbor_id for r in out]
    assert len(ids) == len(set(ids)) == 5
    assert 1000 in ids  # its own (appended) twin is the nearest code

    # purge the nearest neighbor: excluded at search without a rewrite
    victim = ids[0]
    pq.purge_ivf_pq_index(
        spark.createDataFrame([(victim,)], "vec_id long"), path
    )
    after = pq.search_ivf_pq_index(spark, q, path, k=5, n_probe=4).collect()
    assert victim not in {r.neighbor_id for r in after}

    # compact folds tombstones AND the replay duplicates: 200 + 10 - 1
    assert pq.compact_ivf_pq_index(spark, path) == 209
    again = pq.search_ivf_pq_index(spark, q, path, k=5, n_probe=4).collect()
    assert {(r.neighbor_id, r.rank) for r in again} == {
        (r.neighbor_id, r.rank) for r in after
    }
    # second compact is stable
    assert pq.compact_ivf_pq_index(spark, path) == 209


def test_ivf_pq_compact_swap_crash_recovery(vecs, spark, tmp_path):
    """Both swap interruption points leave the codes index searchable
    (the flat index's crash contract, shared via similarity._compact_cells)."""
    import shutil

    path = str(tmp_path / "ivfpq")
    pq.build_ivf_pq_index(vecs, path, n_centroids=4, n_subspaces=4, n_codes=16)
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.lit(9999).alias("vec_id"), "embedding"
    )

    def hits():
        return {
            r.neighbor_id
            for r in pq.search_ivf_pq_index(spark, q, path, k=5, n_probe=4).collect()
        }

    baseline = hits()
    codes = f"{path}/codes.parquet"
    # point 1: backup renamed, publish never happened
    staged = f"{path}/.stage.parquet"
    shutil.copytree(codes, staged)
    shutil.move(codes, codes + ".old")
    assert hits() == baseline  # recovered to old state
    shutil.rmtree(staged, ignore_errors=True)
    # point 2: published, stale backup left behind
    shutil.copytree(codes, codes + ".old")
    assert hits() == baseline
    import os

    assert not os.path.exists(codes + ".old")


def test_ivf_pq_append_empty_batch_is_noop(vecs, spark, tmp_path):
    """A fully-deduped micro-batch appends zero vectors without touching
    the index (and without tripping the empty-plan Observation quirk)."""
    path = str(tmp_path / "ivfpq")
    pq.build_ivf_pq_index(vecs, path, n_centroids=4, n_subspaces=4, n_codes=16)
    empty = vecs.filter(F.col("vec_id") < 0)
    assert pq.append_ivf_pq_index(empty, path) == 0
    assert pq.compact_ivf_pq_index(spark, path) == 200
