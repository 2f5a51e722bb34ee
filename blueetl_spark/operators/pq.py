"""Product quantization (PQ) — the memory half of billion-scale ANN.

The reference (BlueBrain/blueetl) has no similarity search at all; this
extends the engine's ANN stack (``operators/similarity.py``: bruteforce /
LSH / IVF) with the standard compression path. A ``dim`` float32 vector
(``dim * 4`` bytes) is split into ``n_subspaces`` contiguous sub-vectors,
each quantized to the nearest of ``n_codes`` learned sub-centroids — the
whole vector becomes ``n_subspaces`` small integers (8 bytes at the
canonical 8×256 configuration vs 256 bytes for dim=64 float32, a 32×
reduction). Search uses asymmetric distance computation (ADC): the query
stays un-quantized; per query a ``n_subspaces × n_codes`` lookup table of
exact sub-distances is built once, and each corpus vector's approximate
distance is ``n_subspaces`` table lookups — no decompression, ever.

Scale shape (the reason PQ exists):

- **Corpus memory**: 10⁹ × dim-64 float32 = 256 GB won't sit in executor
  memory; 10⁹ × 8-byte codes = 8 GB does. Encoding is one Arrow-batched
  ``mapInPandas`` pass (numpy argmin per subspace); codes ride shuffles
  and the IVF cell layout in place of payload vectors.
- **Search cost**: LUT build is O(|Q|·n_subspaces·n_codes) tiny driver
  work shipped in the task closure; the scan is O(rows·n_subspaces)
  int-gather adds — no per-pair float dot products. Each partition emits
  only its local top-k per query, so the final shuffle carries
  O(|Q|·k·n_partitions) candidate rows, never the corpus.
- **Composition**: for 10⁹+ corpora, encode the cell-partitioned
  assignments of :func:`similarity.build_ivf_index` and run ADC only over
  probed cells (IVF-PQ). The two operators compose because both keep the
  corpus distributed and the small side (codebooks, LUTs) in closures.

Determinism: training is seeded (deterministic sample + Lloyd's with
fixed init); encoding breaks argmin ties toward the smallest code id;
search ranks on distances rounded to 6 decimals with a neighbor-id
tie-break — the same discipline the oracle-gated queries use elsewhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blueetl_spark.plans import atomic
from blueetl_spark.session import local_df


def _as_codebooks(codebooks) -> list[np.ndarray]:
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    if len({cb.shape for cb in cbs}) != 1:
        raise ValueError("all subspace codebooks must share one (K, d_sub) shape")
    return cbs


def subvector_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Data-derived codebooks without training: sub-vectors of the first
    ``n_codes`` corpus vectors (by id). Lower recall than k-means training
    but fully reproducible from the table alone — which lets a plain-SQL
    twin rebuild the identical index end-to-end (same pattern as the
    fixed-centroid IVF gate)."""
    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(id_col) < n_codes)
        .orderBy(id_col)
        .collect()
    )
    v = np.asarray([list(map(float, r[vec_col])) for r in rows])
    if v.shape[1] % n_subspaces:
        raise ValueError(
            f"dim {v.shape[1]} not divisible by n_subspaces {n_subspaces}"
        )
    dsub = v.shape[1] // n_subspaces
    return [
        v[:, m * dsub : (m + 1) * dsub].tolist() for m in range(n_subspaces)
    ]


def train_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 65536,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks with Lloyd's k-means on a seeded
    sample (driver-side numpy — the industry-standard shape: PQ training
    needs only a corpus sample, so the collect is bounded by
    ``sample_size`` regardless of corpus size; the full corpus is touched
    only by the distributed :func:`pq_encode` pass).

    Deterministic: sample order is ``xxhash64(id, seed)``, init is greedy
    farthest-point (maximin) over the sample with first-index tie-breaks,
    and ties in assignment go to the smallest code — same run, same
    codebooks, every time.
    """
    sample = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .toPandas()  # Arrow transfer: ~10× faster than Row-object collect
    )
    v = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    return _train_codebooks_np(v, n_subspaces, n_codes, max_iter)


def _train_codebooks_np(
    v: np.ndarray, n_subspaces: int, n_codes: int, max_iter: int = 20
) -> list[list[list[float]]]:
    dim = v.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces
    out = []
    for m in range(n_subspaces):
        sub = v[:, m * dsub : (m + 1) * dsub]
        # float32 working copy: the Lloyd loop is memory-bandwidth bound
        # (the n×k score matrix is scanned every iteration), so halving
        # element width roughly halves iteration time; the codebook
        # means themselves still accumulate in float64 (bincount below).
        # Deterministic per run either way (same arithmetic, same order).
        sub32 = np.ascontiguousarray(sub, dtype=np.float32)
        # greedy farthest-point (maximin) init: spreads seeds across the
        # sample's support — first-k init collapses multiple true modes
        # onto one code whenever the first rows cluster together.
        # Duplicate sample rows need no explicit dedup (np.unique(axis=0)
        # row-sorts the whole sample — measured as the dominant training
        # cost): a duplicate sits at distance 0 from its chosen twin and
        # maximin never picks it; if the sample runs out of distinct
        # points the max-distance hits 0 and we stop with fewer codes.
        chosen = [0]
        d_near = ((sub32 - sub32[0]) ** 2).sum(axis=1)
        while len(chosen) < n_codes:
            nxt = int(np.argmax(d_near))  # argmax-first = smallest index tie-break
            if d_near[nxt] == 0.0:
                break  # fewer distinct points than requested codes
            chosen.append(nxt)
            d_near = np.minimum(d_near, ((sub32 - sub32[nxt]) ** 2).sum(axis=1))
        cb = sub[chosen].copy()  # float64 master copy
        k = len(cb)
        # preallocate the n×k score buffer: a fresh 100+ MB allocation
        # per iteration is first-touch page-fault bound (the same
        # pathology assign_cells documents) and dominated training time.
        # Assignment uses the fused form argmin‖x−c‖² == argmax(x·c −
        # ‖c‖²/2): one in-place subtract + one argmax pass over the
        # buffer instead of the mul + add + argmin three-pass distance
        # evaluation (ties resolve to the smallest code either way).
        g = np.empty((len(sub), k), dtype=np.float32)
        for _ in range(max_iter):
            cb32 = cb.astype(np.float32)
            np.matmul(sub32, cb32.T, out=g)
            g -= 0.5 * (cb32**2).sum(axis=1)[None, :]
            assign = np.argmax(g, axis=1)
            # vectorized per-code means: per-dimension bincount beats both
            # a python loop of k boolean masks and np.add.at's unbuffered
            # scatter
            counts = np.bincount(assign, minlength=k)
            sums = np.stack(
                [
                    np.bincount(assign, weights=sub[:, j], minlength=k)
                    for j in range(sub.shape[1])
                ],
                axis=1,
            )
            new = np.where(
                counts[:, None] > 0,
                sums / np.maximum(counts, 1)[:, None],
                cb,
            )
            if np.allclose(new, cb, rtol=0, atol=1e-12):
                break
            cb = new
        out.append(cb.tolist())
    return out


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    drop_vec: bool = False,
) -> DataFrame:
    """Quantize ``vec_col`` to per-subspace nearest-code ids (one
    Arrow-batched ``mapInPandas`` pass; the per-batch work is
    ``n_subspaces`` small matmuls against closure-resident codebooks).

    ``drop_vec=True`` projects the float vector away in the same pass —
    at 10⁹ rows the encoded table is what ships to the index, and the
    payload must not ride the shuffle.

    Ties break toward the smallest code id (numpy argmin-first), matching
    the SQL twin's first-position-of-min semantics.
    """
    cbs = _as_codebooks(codebooks)
    out_fields = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if not (drop_vec and f.name == vec_col)
    ]
    out_schema = ", ".join([*out_fields, f"{out_col} array<smallint>"])

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _encode_np(v, cbs)
            out = pdf.drop(columns=[vec_col]) if drop_vec else pdf.copy()
            out[out_col] = [row.tolist() for row in codes]
            yield out

    return df.mapInPandas(op, out_schema)


def adc_search(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    max_queries: int = 4096,
) -> DataFrame:
    """Approximate k-NN by asymmetric distance over PQ codes.

    Output: ``(query_id, neighbor_id, adc, rank)`` — ``adc`` is the
    approximate squared L2 distance (rounded to 6 decimals; on
    unit-normalized vectors its ordering is the cosine ordering, since
    ``|q−x|² = 2 − 2·cos`` there), rank 1..k ascending with a
    neighbor-id tie-break. Self-matches are excluded.

    The query side is collected to build the LUTs and must be small —
    enforced by ``max_queries`` with an actionable error, the same
    broadcast-size discipline as ``dedup.embedding_near_dup``. The corpus
    side stays fully distributed: each partition scans codes once,
    gathers from the LUT, and emits only its local top-k per query, so
    the downstream exchange carries candidates, not the corpus.
    """
    cbs = _as_codebooks(codebooks)
    n_sub, dsub = len(cbs), cbs[0].shape[1]

    qpdf = queries.select(id_col, vec_col).limit(max_queries + 1).toPandas()
    if len(qpdf) > max_queries:
        raise ValueError(
            f"adc_search collects the query side to build LUTs; got more "
            f"than max_queries={max_queries} rows. Split the query set, or "
            f"raise max_queries explicitly if the LUTs genuinely fit "
            f"(each is n_subspaces × n_codes doubles)."
        )
    if len(qpdf) == 0:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc double, rank int"
        )
    qids = qpdf[id_col].to_numpy()
    qv = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    # luts[qi, m, code] = |q_sub − codebook[m][code]|², exact
    luts = np.stack(
        [
            ((qv[:, m * dsub : (m + 1) * dsub, None] - cbs[m].T[None, :, :]) ** 2).sum(
                axis=1
            )
            for m in range(n_sub)
        ],
        axis=1,
    )
    n_q = len(qids)
    out_schema = "query_id long, neighbor_id long, adc double"

    def op(batches):
        import pandas as pd  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf[code_col].to_numpy()).astype(np.int64)
            nids = pdf[id_col].to_numpy()
            acc = np.zeros((n_q, len(codes)))
            for m in range(n_sub):
                acc += luts[:, m, :][:, codes[:, m]]
            acc[qids[:, None] == nids[None, :]] = np.inf  # self-matches out
            # prune on the ROUNDED distance and keep boundary ties
            # inclusively: every candidate the global (rounded, id) sort
            # could rank within k must survive local pruning, or the
            # result would depend on partition placement
            acc = np.round(acc, 6)
            kk = min(k, acc.shape[1])
            thresh = np.partition(acc, kk - 1, axis=1)[:, kk - 1]
            qi, ni = np.nonzero(acc <= thresh[:, None])
            adc = acc[qi, ni]
            keep = np.isfinite(adc)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi[keep]],
                    "neighbor_id": nids[ni[keep]],
                    "adc": adc[keep],
                }
            )

    candidates = corpus_codes.select(
        F.col(id_col).cast("long").alias(id_col), code_col
    ).mapInPandas(op, out_schema)
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: cell-partitioned codes + residual encoding + pruned ADC search
# ---------------------------------------------------------------------------


def _encode_np(v: np.ndarray, cbs: list[np.ndarray]) -> np.ndarray:
    """Nearest-code id per subspace (argmin-first tie-break; shared by the
    raw-vector and residual encode paths)."""
    n_sub, dsub = len(cbs), cbs[0].shape[1]
    codes = np.empty((len(v), n_sub), dtype=np.int16)
    for m in range(n_sub):
        sub = v[:, m * dsub : (m + 1) * dsub]
        d = -2.0 * (sub @ cbs[m].T) + (cbs[m] ** 2).sum(axis=1)[None, :]
        codes[:, m] = np.argmin(d, axis=1).astype(np.int16)
    return codes


def build_ivf_pq_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    pq_codebooks=None,
) -> dict:
    """Build and persist an IVF-PQ index: coarse cells from
    :func:`similarity.assign_cells`, **residual** PQ codes within each
    cell (``x − centroid[cell]`` quantized, the production IVF-PQ
    encoding — residuals cluster much tighter than raw vectors, so the
    same code budget buys less distortion), written as
    ``codes.parquet`` partitioned by cell.

    This is the 10⁹-vector composition: the directory layout prunes the
    scan to probed cells at file-listing level (same bargain as
    :func:`similarity.build_ivf_index`), and what's inside each cell is
    8-byte codes instead of float payloads — the scan after pruning is
    ~32× lighter too. PQ codebooks train on a bounded sample of
    residuals; both codebooks persist beside the codes.
    """
    from pathlib import Path

    from blueetl_spark.operators.similarity import assign_cells

    spark = corpus.sparkSession
    if centroids is not None:
        cents = [list(map(float, c)) for c in centroids]
    else:
        cents = [
            list(map(float, row[vec_col]))
            for row in corpus.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(n_centroids)
            .collect()
        ]
    cent_np = np.asarray(cents)
    base = Path(index_path)

    assigned = (
        assign_cells(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            cents,
            vec_col,
            n=1,
        )
        .withColumn("cell", F.col("__cells")[0])
        .drop("__cells")
        # eager localCheckpoint, not persist: the assignment matmul over
        # the whole corpus is the build's most expensive stage and feeds
        # BOTH the residual training sample and the encode+write. A
        # persist here was never unpersisted (cached blocks outlived the
        # build — the ADVICE r5 leak class); checkpoint blocks are
        # reaped on GC when the build returns.
        .localCheckpoint(eager=True)
    )

    # bounded sample of residuals — for codebook training AND the
    # self-ADC distortion stats persisted beside the index
    spdf = (
        assigned.orderBy(F.xxhash64(F.col("neighbor_id"), F.lit(seed)))
        .limit(65536)
        .select(vec_col, "cell")
        .toPandas()
    )
    sv = np.stack(spdf[vec_col].to_numpy()).astype(np.float64)
    res = sv - cent_np[spdf["cell"].to_numpy()]
    if pq_codebooks is None:
        cbs = _train_codebooks_np(res, n_subspaces, n_codes)
    else:
        cbs = [[list(map(float, c)) for c in cb] for cb in pq_codebooks]
    cbs_np = _as_codebooks(cbs)

    local_df(
        spark,
        [(i, c) for i, c in enumerate(cents)], "centroid_id int, vector array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "ivf_codebook.parquet"))
    local_df(
        spark,
        [(m, j, c) for m, cb in enumerate(cbs) for j, c in enumerate(cb)],
        "subspace int, code int, vector array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "pq_codebooks.parquet"))
    # Self-ADC distortion floor of the sample: the number every
    # ADC-thresholded consumer must calibrate against — an exact
    # duplicate of an indexed vector scores ~this much, never 0
    # (streaming/curate.semantic_dedup_batch checks it at runtime).
    codes_s = _encode_np(res, cbs_np)
    rec = np.concatenate(
        [cbs_np[m][codes_s[:, m]] for m in range(len(cbs_np))], axis=1
    )
    err = ((res - rec) ** 2).sum(axis=1)
    q50, q90, q99 = (float(np.quantile(err, q)) for q in (0.5, 0.9, 0.99))
    local_df(
        spark,
        [(q50, q90, q99)],
        "adc_p50 double, adc_p90 double, adc_p99 double",
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "stats.parquet"))

    id_type = dict(corpus.dtypes)[id_col]
    out_schema = f"neighbor_id {id_type}, cell int, pq_code array<smallint>"
    op = _residual_encode_op(cent_np, cbs_np, vec_col)

    # repartition by cell before the partitioned write: each cell then
    # lives in exactly one task, so the write emits one file per cell
    # instead of (n_tasks × n_cells) shards — at 1024 cells × 32 tasks
    # the shard explosion dominated both the write and every later
    # probe's file listing
    (
        assigned.mapInPandas(op, out_schema)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(base / "codes.parquet"))
    )
    assigned.unpersist()
    n = spark.read.parquet(str(base / "codes.parquet")).count()
    return {
        "n_centroids": len(cents),
        "n_subspaces": n_subspaces,
        "n_vectors": n,
        "adc_distortion": {"p50": q50, "p90": q90, "p99": q99},
    }


def _residual_encode_op(cent_np: np.ndarray, cbs_np, vec_col: str):
    """mapInPandas kernel shared by build and append: residual against
    the assigned cell's centroid, PQ-encoded with the given codebooks."""

    def op(batches):
        import pandas as pd  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            res = v - cent_np[pdf["cell"].to_numpy()]
            codes = _encode_np(res, cbs_np)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                    "pq_code": [row.tolist() for row in codes],
                }
            )

    return op


def _load_ivf_pq_codebooks(spark, index_path: str):
    """The stored (frozen-at-build) coarse centroids + PQ codebooks."""
    cents = [
        list(map(float, r.vector))
        for r in spark.read.parquet(f"{index_path}/ivf_codebook.parquet")
        .orderBy("centroid_id")
        .collect()
    ]
    cb_rows = (
        spark.read.parquet(f"{index_path}/pq_codebooks.parquet")
        .orderBy("subspace", "code")
        .collect()
    )
    n_sub = max(r.subspace for r in cb_rows) + 1
    cbs_np = [
        np.asarray([list(map(float, r.vector)) for r in cb_rows if r.subspace == m])
        for m in range(n_sub)
    ]
    return cents, cbs_np


def append_ivf_pq_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental ingest into a persisted IVF-PQ index: assign cells
    and encode residuals with the STORED coarse centroids and PQ
    codebooks (both frozen at build time — the standard IVF-PQ
    contract), then append into the cell-partitioned codes layout.
    History is never rewritten or re-read; cost is one assignment +
    encode pass over the batch. Returns the number of vectors appended.

    Recall/distortion drift if the corpus distribution moves far from
    the build sample — rebuild with :func:`build_ivf_pq_index` when
    per-cell counts skew (one ``groupBy('cell')`` away). The lifecycle
    mirrors the flat IVF index: :func:`purge_ivf_pq_index` tombstones,
    :func:`compact_ivf_pq_index` folds them in crash-safely.
    """
    from pyspark.sql import Observation

    from blueetl_spark.operators.similarity import assign_cells

    spark = new_vectors.sparkSession
    codes_dir = f"{index_path}/codes.parquet"
    atomic.recover_dir(spark, codes_dir)
    if new_vectors.isEmpty():
        # zero-row no-op: the Observation metrics row is absent on an
        # empty mapInPandas plan (obs.get dies in toPyRow), and a
        # fully-deduped micro-batch appends nothing anyway
        return 0
    cents, cbs_np = _load_ivf_pq_codebooks(spark, index_path)
    cent_np = np.asarray(cents)
    assigned = (
        assign_cells(
            new_vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            cents,
            vec_col,
            n=1,
        )
        .withColumn("cell", F.col("__cells")[0])
        .drop("__cells")
    )
    id_type = dict(new_vectors.dtypes)[id_col]
    out_schema = f"neighbor_id {id_type}, cell int, pq_code array<smallint>"
    obs = Observation("ivf_pq_append")
    (
        assigned.mapInPandas(_residual_encode_op(cent_np, cbs_np, vec_col), out_schema)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(codes_dir)
    )
    return obs.get["n"]


def purge_ivf_pq_index(ids: DataFrame, index_path: str, id_col: str = "vec_id") -> None:
    """Mark vectors deleted WITHOUT touching the codes: ids append to a
    tombstone table and every subsequent :func:`search_ivf_pq_index`
    excludes them — O(ids) per request, the takedown path. Delegates to
    :func:`blueetl_spark.operators.similarity.purge_ivf_index` (same
    tombstone layout under a different index root)."""
    from blueetl_spark.operators.similarity import purge_ivf_index

    purge_ivf_index(ids, index_path, id_col)


def compact_ivf_pq_index(spark, index_path: str) -> int:
    """Fold tombstones into the codes and deduplicate replayed appends
    (one row per ``neighbor_id``) via the shared crash-safe staged swap.
    Returns the surviving vector count."""
    from blueetl_spark.operators.similarity import _compact_cells

    return _compact_cells(spark, index_path, "codes.parquet")


def search_ivf_pq_index(
    spark,
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Top-k ADC search against a persisted IVF-PQ index.

    ``exclude`` (a one-column id frame) removes index vectors BEFORE the
    kernel's local top-k — same contract and same reason as
    ``similarity.search_ivf_index``'s parameter (a post-hoc filter would
    let excluded rows crowd real neighbors out of the rank slots).

    Per (query, probed cell) the LUT is built from the query's **residual
    against that cell's centroid** (matching the residual encoding); the
    codes scan carries an ``isin`` partition filter so only probed cells'
    files are listed and read. Each scan task emits its local
    rounded-tie-inclusive top-k per query; the global window finishes the
    ranking — candidates shuffle, never the corpus.

    Output: (query_id, neighbor_id, adc, rank) — adc ascending approximate
    squared L2, rounded to 6 decimals, neighbor-id tie-break.

    Purged vectors (:func:`purge_ivf_pq_index`) are excluded via the
    tombstone anti-join; replay-appended duplicate code rows are folded
    out BEFORE the ADC kernel (the kernel's per-task tie-inclusive
    local top-k would otherwise let duplicates crowd a distinct
    neighbor out of a task's emission — an unrecoverable recall loss,
    unlike the flat index's pair scoring). The dedup exchange runs over
    the probed cells' 8-byte code rows only; partition pruning at the
    file-listing level is unaffected (the cell filter applies first).
    """
    from pathlib import Path

    from blueetl_spark.operators.similarity import assign_cells

    base = Path(index_path)
    atomic.recover_dir(spark, str(base / "codes.parquet"))
    cents, cbs_np = _load_ivf_pq_codebooks(spark, index_path)
    cent_np = np.asarray(cents)
    n_sub = len(cbs_np)
    dsub = cbs_np[0].shape[1]

    qpdf = (
        assign_cells(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
            cents,
            vec_col,
            n=n_probe,
        )
        .limit(max_queries + 1)
        .toPandas()
    )
    if len(qpdf) > max_queries:
        raise ValueError(
            f"search_ivf_pq_index collects the query side to build LUTs; "
            f"got more than max_queries={max_queries} rows. Split the query "
            f"set or raise max_queries explicitly."
        )
    if len(qpdf) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc double, rank int"
        )
    qids = qpdf["query_id"].to_numpy()
    qv = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    probes = [list(c) for c in qpdf["__cells"]]
    probed = sorted({c for cs in probes for c in cs})
    # cell -> (query row indices, per-query LUT (M, K)) for that cell
    cell_plan: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for cell in probed:
        rows = np.array([i for i, cs in enumerate(probes) if cell in cs])
        res = qv[rows] - cent_np[cell][None, :]
        lut = np.stack(
            [
                (
                    (res[:, m * dsub : (m + 1) * dsub, None] - cbs_np[m].T[None, :, :])
                    ** 2
                ).sum(axis=1)
                for m in range(n_sub)
            ],
            axis=1,
        )
        cell_plan[cell] = (rows, lut)

    codes_df = atomic.without_tombstones(
        spark.read.parquet(str(base / "codes.parquet")).filter(
            F.col("cell").isin([int(c) for c in probed])
        ),
        str(base / "tombstones.parquet"),
        "neighbor_id",
    )
    if exclude is not None:
        codes_df = codes_df.join(
            exclude.select(F.col(exclude.columns[0]).alias("neighbor_id")),
            "neighbor_id",
            "left_anti",
        )
    codes_df = codes_df.dropDuplicates(["neighbor_id"])
    out_schema = "query_id long, neighbor_id long, adc double"

    def op(batches):
        import pandas as pd  # noqa: PLC0415 - executor-side import

        for pdf in batches:
            for cell, grp in pdf.groupby("cell"):
                plan = cell_plan.get(int(cell))
                if plan is None:
                    continue
                qrows, lut = plan
                codes = np.stack(grp["pq_code"].to_numpy()).astype(np.int64)
                nids = grp["neighbor_id"].to_numpy()
                acc = np.zeros((len(qrows), len(codes)))
                for m in range(n_sub):
                    acc += lut[:, m, :][:, codes[:, m]]
                acc[qids[qrows][:, None] == nids[None, :]] = np.inf
                acc = np.round(acc, 6)
                kk = min(k, acc.shape[1])
                thresh = np.partition(acc, kk - 1, axis=1)[:, kk - 1]
                qi, ni = np.nonzero(acc <= thresh[:, None])
                adc = acc[qi, ni]
                keep = np.isfinite(adc)
                yield pd.DataFrame(
                    {
                        "query_id": qids[qrows[qi[keep]]],
                        "neighbor_id": nids[ni[keep]],
                        "adc": adc[keep],
                    }
                )

    candidates = codes_df.mapInPandas(op, out_schema)
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
