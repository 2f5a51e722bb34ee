"""Approximate-nearest-neighbor search over embedding columns.

- :func:`knn_bruteforce` — exact top-k cosine via a join + higher-order
  functions (``zip_with``/``aggregate``), all JVM-side. The baseline, and
  exact for verification. Cost O(|Q|·|C|) — fine when the query side is
  small or as the within-bucket step below.
- :func:`knn_lsh` — random-hyperplane LSH: sign-bit sketches bucket the
  corpus; queries probe their own bucket (+ optional multi-probe), then
  brute-force within the bucket. The 100 TB path: the corpus is hashed
  once (one scan), the join is an equi-join on the bucket key, and AQE
  handles bucket skew.
- :func:`knn_ivf` — IVF-style: k-means-ish centroids sampled from the data
  (deterministic seed), vectors assigned to nearest centroid (broadcast),
  queries probe ``n_probe`` nearest centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blueetl_spark.plans import atomic
from blueetl_spark.session import local_df


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("__norm", _norm(F.col(vec_col)))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k by
    (cosine desc, neighbor_id) — the id tie-break makes ranks
    deterministic. Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "hof",
    max_eval_rows: int = 100_000,
) -> DataFrame:
    """Embedding-space decontamination: drop every corpus row whose
    vector has cosine ≥ ``threshold`` against ANY eval-set vector;
    returns the surviving corpus rows (all columns).

    The semantic complement of the n-gram
    ``text.ngram_overlap``/``decontaminate`` path: paraphrased or
    translated benchmark items share no n-grams but sit next to the
    eval set in embedding space (the SemDeDup/decontamination
    literature's motivation). The eval side is benchmark-sized, so
    BOTH methods keep it broadcast / in-closure and stream the corpus
    map-only — no corpus-side shuffle beyond the final anti-join on
    the id:

    - ``method="hof"``: broadcast nested-loop join + ``zip_with`` dot —
      exact and ANSI-SQL-replayable (the oracle gate's path).
    - ``method="arrow"``: ``mapInPandas`` batched numpy matmul
      (batch × eval matrix) — the vectorized scale path, ~d× fewer
      interpreter steps per comparison. Both paths work in float64 but
      associate differently (normalize-then-dot vs dot-then-divide), so
      a cosine within a few ulp of ``threshold`` could in principle
      land on different sides; pytest pins the surviving row sets equal
      on the test corpus.

    ``max_eval_rows`` guards the broadcast/closure: a corpus-sized
    "eval set" would need the bucketed near-dup join instead
    (``dedup.embedding_near_dup(method="lsh")``).
    """
    n_eval = eval_df.count()
    if n_eval > max_eval_rows:
        raise ValueError(
            f"eval set has {n_eval} rows > max_eval_rows={max_eval_rows}; "
            "use dedup.embedding_near_dup(method='lsh') for corpus-sized sides"
        )
    if method == "hof":
        c = corpus.select(
            F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
        ).withColumn("__cn", _norm(F.col("__cv")))
        e = eval_df.select(F.col(vec_col).alias("__ev")).withColumn(
            "__en", _norm(F.col("__ev"))
        )
        contaminated = (
            c.crossJoin(F.broadcast(e))
            .withColumn(
                "__cos",
                _dot(F.col("__cv"), F.col("__ev")) / (F.col("__cn") * F.col("__en")),
            )
            .filter(F.col("__cos") >= threshold)
            .select(F.col("__cid").alias(id_col))
            .distinct()
        )
        return corpus.join(contaminated, id_col, "left_anti")
    if method == "arrow":
        import numpy as np

        rows = eval_df.select(vec_col).collect()
        if not rows:
            # nothing to decontaminate against — the hof path's crossJoin
            # naturally yields no contaminated ids; match it (an empty list
            # would otherwise build a 1-D (0,) array and crash norm(axis=1))
            return corpus
        em = np.asarray([r[0] for r in rows], dtype="float64")
        em /= np.maximum(np.linalg.norm(em, axis=1, keepdims=True), 1e-300)

        def drop_contaminated(it):
            for pdf in it:
                if not len(pdf):
                    continue
                vm = np.asarray(list(pdf[vec_col]), dtype="float64")
                vm_n = vm / np.maximum(
                    np.linalg.norm(vm, axis=1, keepdims=True), 1e-300
                )
                keep = (vm_n @ em.T).max(axis=1) < threshold
                yield pdf[keep]

        return corpus.mapInPandas(drop_contaminated, corpus.schema)
    raise ValueError(f"unknown method {method!r}")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors with a **different label** —
    the negatives closest to the decision boundary, which carry the most
    gradient signal in a triplet/InfoNCE loss.

    Output: (query_id, query_label, neighbor_id, neighbor_label, cosine,
    rank), rank 1..k by (cosine desc, neighbor_id). Same shape and
    determinism contract as :func:`knn_bruteforce`; the label filter
    rides the same scored join, so Catalyst applies it before the
    row_number window. This is the exact baseline — at corpus scale,
    generate candidates with :func:`sketch_tables` LSH buckets or the
    IVF index first and apply the same label-inequality predicate on the
    bucketed join.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .withColumn(
            "cosine", _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cosine", "rank",
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def sketch(df: DataFrame, planes: list[list[float]], vec_col: str = "embedding"):
    """Sign-bit sketch of each vector against the given hyperplanes → long."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = _dot(F.col(vec_col), plane_arr)
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return df.withColumn("__bucket", bucket)


def sketch_tables(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    vec_col: str,
) -> DataFrame:
    """(table, bucket) membership rows for multi-table hyperplane LSH.

    OR-amplification: ``n_tables`` independent sketches; two vectors are
    candidates when ANY table buckets them together. For per-plane match
    probability p (= 1 − θ/π), candidate recall is ``1 − (1 − pᵏ)ᴸ`` —
    the knob that turns one low-recall table into a tunable structure.

    Implemented as one Arrow-batched ``mapInPandas`` pass: all
    ``n_tables × n_planes`` dot products per vector are a single numpy
    ``V @ P.T`` (the plane matrix rides inside the closure — it is
    config-sized). The expression-tree alternative (a literal per plane
    coefficient) costs thousands of Catalyst nodes and interpreted
    per-element lambda evaluation; the matrix kernel is both faster and
    cheaper to plan. Output: input columns + (__table, __bucket) rows.
    """
    import numpy as np
    import pandas as pd

    planes = np.stack(
        [
            np.asarray(_hyperplanes(dim, n_planes, seed + 7919 * t))
            for t in range(n_tables)
        ]
    )  # (n_tables, n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bucket bit weights
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema = f"{in_fields}, __table int, __bucket long"

    def op(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = []
            for t in range(planes.shape[0]):
                signs = (v @ planes[t].T) >= 0  # (rows, n_planes)
                buckets = (signs * weights).sum(axis=1)
                part = pdf.copy()
                part["__table"] = t
                part["__bucket"] = buckets
                out.append(part)
            yield pd.concat(out, ignore_index=True)

    return df.mapInPandas(op, out_schema)


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k cosine via multi-table random-hyperplane bucketing.

    Same output schema as :func:`knn_bruteforce`. Candidates are the union
    over ``n_tables`` independent bucketings (OR-amplification), deduped
    before scoring so each (query, neighbor) pair is scored once. The
    corpus-side sketches are one scan; the candidate join is an equi-join
    on (table, bucket) instead of a cross join.
    """
    q = sketch_tables(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        dim, n_planes, n_tables, seed, "__qv",
    )
    c = sketch_tables(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        dim, n_planes, n_tables, seed, "__cv",
    )
    cand = (
        q.select("query_id", "__table", "__bucket")
        .join(c.select("neighbor_id", "__table", "__bucket"), ["__table", "__bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    # no forced broadcast of the query side: nothing bounds its size (this
    # is sold as the scale path) and a hint overrides the size threshold —
    # AQE broadcasts small query batches on its own and falls back to a
    # shuffled join for large ones instead of OOMing the driver
    scored = score_pairs(cand.join(qv, "query_id").join(cv, "neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def score_pairs(df: DataFrame, qv: str = "__qv", cv: str = "__cv") -> DataFrame:
    """Vectorized cosine scoring of joined candidate pairs.

    Input: (query_id, neighbor_id, qv, cv) rows from a candidate equi-join.
    One Arrow batch → one ``(A*B).sum(1)`` fused kernel, ~20× the
    interpreted HOF ``zip_with``/``aggregate`` form per pair — the scoring
    cost is what dominates when cell/bucket skew inflates the candidate
    set, so the approximate (scale) paths use this; the exact bruteforce
    baseline keeps the JVM HOF form as an independent implementation.
    Output: (query_id, neighbor_id, cosine).
    """
    import numpy as np
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in df.schema}
    out_schema = (
        f"query_id {fields['query_id']}, neighbor_id {fields['neighbor_id']}, "
        "cosine double"
    )

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf[qv].to_numpy()).astype(np.float64)
            b = np.stack(pdf[cv].to_numpy()).astype(np.float64)
            cos = (a * b).sum(axis=1) / (
                np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "cosine": cos,
                }
            )

    return df.mapInPandas(op, out_schema)


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    n: int = 1,
    out_col: str = "__cells",
) -> DataFrame:
    """Top-``n`` nearest-centroid cells per vector via a broadcast numpy
    codebook — the scale path for IVF assignment/probing.

    One Arrow-batched ``mapInPandas`` pass: all ``rows × n_centroids`` dot
    products are a single ``V @ C.T`` matmul against the codebook matrix
    riding in the closure (serialized once per executor, fine for ≥4096
    centroids × high dim). The previous expression-tree form (one literal
    array per centroid) built O(n_centroids × dim) Catalyst nodes and
    evaluated interpreted HOF dot products per row per centroid — plan
    construction alone blew up past ~1k centroids.

    Ordering matches the oracle-verified semantics exactly: cells ranked by
    (dot product DESC, centroid id DESC). Output: input columns +
    ``out_col array<int>``.

    Kernel notes (measured at 10k-row batches x 4096 centroids, dim 64):
    the codebook is stored **column-reversed** so the tie-winning largest
    centroid id becomes the *first* max in the reversed index space —
    contiguous ``argmax`` (0.03 s) instead of a reversed-view argmax
    (3.5 s, 100x slower on the non-contiguous stride). For ``n > 1``,
    full stable argsort of the row (12.9 s) is replaced by
    ``argpartition`` top-n + an n-wide lexsort (sub-second); exact-dot
    ties spanning the partition boundary (where argpartition's choice is
    arbitrary) are detected per row and only those rows fall back to the
    stable argsort — deterministic output either way.

    The similarity matrix is computed in row chunks through ONE reused
    preallocated buffer (``np.matmul(..., out=)``): a fresh
    ``rows x n_centroids`` allocation per batch pays first-touch page
    faults on the whole buffer, which measured ~100 MB/s on this class of
    box when 32 workers fault concurrently — that alone turned a 0.1 s
    matmul into minutes. Chunking bounds peak memory at
    ``CHUNK x n_centroids`` doubles regardless of batch size, which is
    also what keeps the kernel safe at 2^16-centroid codebooks.
    """
    import numpy as np

    codebook = np.asarray(centroids, dtype=np.float64)  # (m, dim)
    m = codebook.shape[0]
    n = min(n, m)
    cb_rev = codebook[::-1].copy()  # contiguous; column j = centroid m-1-j
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema = f"{in_fields}, {out_col} array<int>"
    chunk = max(1, (16 << 20) // (8 * m))  # ~16 MB sim-buffer slices

    def op(batches):
        buf = np.empty((chunk, m))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            parts = []
            for s in range(0, len(v), chunk):
                blk = v[s : s + chunk]
                sims = buf[: len(blk)]
                np.matmul(blk, cb_rev.T, out=sims)
                if n == 1:
                    sel = np.argmax(sims, axis=1)[:, None]
                elif n == m:
                    sel = np.argsort(-sims, axis=1, kind="stable")
                else:
                    idx = np.argpartition(-sims, n - 1, axis=1)[:, :n]
                    vals = np.take_along_axis(sims, idx, axis=1)
                    # order the n selected by (dot desc, reversed-id asc)
                    order = np.lexsort((idx, -vals), axis=1)
                    sel = np.take_along_axis(idx, order, axis=1)
                    # boundary ties: >n elements >= the n-th value means
                    # argpartition's pick among equals was arbitrary
                    thresh = vals.min(axis=1)
                    tied = (sims >= thresh[:, None]).sum(axis=1) > n
                    if tied.any():
                        sel[tied] = np.argsort(
                            -sims[tied], axis=1, kind="stable"
                        )[:, :n]
                parts.append((m - 1 - sel).astype(np.int32))
            top = np.concatenate(parts) if len(parts) > 1 else parts[0]
            out = pdf.copy()
            out[out_col] = [row.tolist() for row in top]
            yield out

    return df.mapInPandas(op, out_schema)


def train_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Train IVF centroids with Spark ML KMeans (distributed Lloyd's) —
    the offline index-build step of a production IVF. Returns plain
    Python centroid vectors (driver-side, tiny)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return [c.tolist() for c in model.clusterCenters()]


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: corpus partitioned by nearest centroid cell; each
    query probes its ``n_probe`` nearest centroids' cells.

    ``centroids`` accepts a trained codebook (see
    :func:`train_centroids_kmeans`); the default is a deterministic seeded
    sample of the corpus — cheaper and fully reproducible, at some recall
    cost vs trained centroids.
    """
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

    c = assign_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        cents, "__cv", n=1,
    ).withColumn("__cell", F.col("__cells")[0]).drop("__cells")
    q = assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        cents, "__qv", n=n_probe,
    ).withColumn("__cell", F.explode("__cells")).drop("__cells")
    scored = score_pairs(
        q.join(c, "__cell").filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    # no pair dedup needed: the corpus is assigned to exactly one cell
    # (n=1) and a query's probed cells are distinct, so a (query, neighbor)
    # pair reaches the window at most once
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> dict:
    """Build and persist an IVF index: ``codebook.parquet`` (centroid_id,
    vector) + ``assignments.parquet`` partitioned by cell.

    The cell partitioning is the point: a probe of ``n_probe`` cells at
    search time prunes to those directories at the *file listing* level —
    the corpus is never rescanned, which is the entire IVF bargain at
    10^9+ vectors. Build cost is one assignment pass (numpy kernel) plus
    one partitioned write; the codebook is config-sized.

    Returns {"n_centroids": …, "n_vectors": …}.
    """
    from pathlib import Path

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
    base = Path(index_path)
    codebook = local_df(
        spark,
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id int, vector array<double>",
    )
    codebook.coalesce(1).write.mode("overwrite").parquet(str(base / "codebook.parquet"))
    assigned = (
        assign_cells(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
            ),
            cents, "__cv", n=1,
        )
        .withColumn("cell", F.col("__cells")[0])
        .drop("__cells")
    )
    # Count rows via an Observation piggybacked on the write itself: zero
    # extra scans (a post-write read.parquet(...).count() re-lists and
    # re-reads every cell partition — it was the slowest part of the build).
    from pyspark.sql import Observation

    obs = Observation("ivf_build")
    assigned.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(str(base / "assignments.parquet"))
    return {"n_centroids": len(cents), "n_vectors": obs.get["n"]}


def search_ivf_index(
    spark,
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine search against a persisted IVF index.

    The codebook (config-sized) is collected to assign query cells; the
    distinct probed cells become an ``isin`` partition filter on the
    assignments scan, so only the probed cells' files are listed and read
    (PartitionFilters — asserted in tests). Vectors purged via
    :func:`purge_ivf_index` are excluded (anti-join against the
    request-sized tombstone table) until :func:`compact_ivf_index` folds
    them in. ``exclude`` (a one-column id frame) removes index vectors
    from consideration BEFORE ranking — crucially different from
    filtering the output, where excluded vectors would still consume the
    k rank slots and mask real neighbors (the streaming replay path
    excludes its own batch's prior appends this way). Output contract
    matches :func:`knn_ivf`: (query_id, neighbor_id, cosine, rank).
    """
    assign_dir = f"{index_path}/assignments.parquet"
    atomic.recover_dir(spark, assign_dir)
    cb_rows = (
        spark.read.parquet(f"{index_path}/codebook.parquet")
        .orderBy("centroid_id")
        .collect()
    )
    cents = [list(map(float, r.vector)) for r in cb_rows]
    q = (
        assign_cells(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
            ),
            cents, "__qv", n=n_probe,
        )
        .withColumn("cell", F.explode("__cells"))
        .drop("__cells")
        # eager localCheckpoint, not persist: the assignment kernel
        # (numpy matmul over queries × codebook) has two consumers (the
        # probed-cells collect and the join) and a persist here would
        # leak cached blocks across repeated searches (nothing ever
        # unpersisted it — same failure mode as ADVICE r5's LSH caches)
        .localCheckpoint(eager=True)
    )
    probed = sorted({r.cell for r in q.select("cell").distinct().collect()})
    c = atomic.without_tombstones(
        spark.read.parquet(assign_dir).filter(F.col("cell").isin(probed)),
        f"{index_path}/tombstones.parquet",
        "neighbor_id",
    )
    if exclude is not None:
        c = c.join(
            exclude.select(F.col(exclude.columns[0]).alias("neighbor_id")),
            "neighbor_id",
            "left_anti",
        )
    scored = score_pairs(
        q.join(c, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    # dense_rank, not row_number: a replayed foreachBatch append leaves
    # duplicate assignment rows for the same neighbor_id until the next
    # compact_ivf_index; with row_number they occupied multiple rank
    # slots and shrank effective k. Duplicates share an order key
    # (identical cosine + id) -> one dense rank; distinct neighbors
    # always differ on neighbor_id -> dense_rank == row_number when the
    # index is clean. The dropDuplicates runs over the k-bounded output
    # and reuses the window's hash partitioning on query_id (no extra
    # exchange).
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def append_ivf_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incremental ingest into a persisted IVF index: assign the new
    vectors to cells using the STORED codebook (cells stay valid — the
    coarse quantizer is frozen at build time, the standard IVF contract)
    and append into the partitioned assignments layout. Cost is one
    assignment pass over the batch; history is never rewritten or
    re-read. Returns the number of vectors appended.

    Recall drifts if the corpus distribution moves far from the build
    sample — rebuild with :func:`build_ivf_index` when cell sizes skew
    (the per-cell counts are one ``groupBy('cell')`` away).
    """
    from pyspark.sql import Observation

    spark = new_vectors.sparkSession
    assign_dir = f"{index_path}/assignments.parquet"
    atomic.recover_dir(spark, assign_dir)
    cb_rows = (
        spark.read.parquet(f"{index_path}/codebook.parquet")
        .orderBy("centroid_id")
        .collect()
    )
    cents = [list(map(float, r.vector)) for r in cb_rows]
    assigned = (
        assign_cells(
            new_vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
            ),
            cents, "__cv", n=1,
        )
        .withColumn("cell", F.col("__cells")[0])
        .drop("__cells")
    )
    obs = Observation("ivf_append")
    assigned.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).partitionBy("cell").parquet(assign_dir)
    return obs.get["n"]


def purge_ivf_index(ids: DataFrame, index_path: str, id_col: str = "vec_id") -> None:
    """Mark vectors as deleted WITHOUT touching the index data: ids are
    appended to a tombstone table and every subsequent
    :func:`search_ivf_index` excludes them. O(ids) per request — the
    takedown/right-to-forget path, same contract as the dedup indexes'
    :func:`blueetl_spark.operators.dedup.purge_minhash_index`."""
    ids.select(F.col(id_col).alias("neighbor_id")).distinct().write.mode(
        "append"
    ).parquet(f"{index_path}/tombstones.parquet")


def _compact_cells(spark, index_path: str, data: str) -> int:
    """Compaction of a cell-partitioned data dir (flat IVF assignments
    AND IVF-PQ codes): one row per ``neighbor_id`` (rows from replayed
    at-least-once appends are full-row identical — frozen codebooks give
    the same cell/payload — so any one row per id is the right
    survivor), then drop the tombstones."""
    ts_dir = f"{index_path}/tombstones.parquet"
    has_ts = atomic.fs_exists(spark, ts_dir)
    n = atomic.compact_dir(
        spark, f"{index_path}/{data}", ts_dir, "neighbor_id", ["neighbor_id"],
        lambda df, dest: df.write.mode("overwrite").partitionBy("cell").parquet(dest),
    )
    if has_ts:
        atomic.delete_dir(spark, ts_dir)
    return n


def compact_ivf_index(spark, index_path: str) -> int:
    """Fold tombstones into the assignments AND deduplicate replayed
    appends: rewrite the partitioned layout minus the purged ids, one
    row per ``neighbor_id`` (a replayed at-least-once ``foreachBatch``
    appends identical assignment rows for the same id — until this runs,
    ``search_ivf_index`` folds them out with a dense rank), via the
    crash-safe staged swap (``plans/atomic.py`` — readable in the old or
    new state at every interruption point), then drop the tombstone
    table. Returns the surviving vector count. The periodic-maintenance
    job, not the per-request path — it always rewrites the layout, which
    is what a compaction is."""
    return _compact_cells(spark, index_path, "assignments.parquet")


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Recall audit of an approximate-neighbor result against its exact
    baseline — the quality gate that belongs NEXT TO every ANN index
    (LSH/IVF/PQ trade recall for speed; untracked recall is how a
    near-dup or retrieval pipeline silently degrades). Per query:
    ``n_exact`` baseline neighbors, ``n_hit`` of them the approximate
    index also returned, ``recall = n_hit / n_exact``. Aggregate (mean
    recall, share of queries above a floor) downstream; per-query rows
    are where the failures hide (one orphaned query tells you which
    bucket/probe is starved — a corpus mean hides it).

    Run it on a QUERY SAMPLE at 100 TB: both inputs are result-shaped
    (queries × k rows, never corpus-sized), so the audit costs one
    equi-join + one aggregate on frames the size of the answer — the
    bruteforce baseline over a few hundred sampled queries is the only
    real cost, and that's the point of sampling.
    """
    a = (
        approx.select(query_col, neighbor_col)
        .dropDuplicates()
        .withColumn("__hit", F.lit(1))
    )
    j = exact.select(query_col, neighbor_col).join(
        a, [query_col, neighbor_col], "left"
    )
    recall = F.col("n_hit").cast("double") / F.col("n_exact").cast("double")
    if round_to is not None:
        recall = F.round(recall, round_to)
    return (
        j.groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(query_col, "n_exact", "n_hit", recall.alias("recall"))
    )


def mmr_select(
    df: DataFrame,
    vec_col: str = "embedding",
    score_col: str = "score",
    id_col: str = "vec_id",
    k: int = 10,
    lam: float = 0.7,
    by: Sequence[str] = (),
    max_candidates: int = 100_000,
) -> DataFrame:
    """Maximal-marginal-relevance selection per group (Carbonell &
    Goldstein 1998) — pick ``k`` items that are RELEVANT but not
    redundant: greedy argmax of ``lam·rel − (1−lam)·max_cos_to_
    selected``. The training-data-selection / RAG-rerank step that
    plain top-k by score cannot do (top-k returns k near-duplicates of
    the best item; MMR's second term pushes each pick away from what
    is already chosen).

    This is a RERANK operator: each group must already be a bounded
    candidate set (an ANN result list, a cluster, a stratum) —
    enforced by ``max_candidates`` (the kernel raises, naming the
    bound, if a group exceeds it; run :func:`knn_lsh` /
    ``clustering.kmeans`` upstream to block first). Output: the
    selected rows ``(by…, id, score, mmr_rank, mmr_score)`` with
    ``mmr_rank`` 0-based in pick order; ``mmr_score`` is the objective
    at pick time (rank 0 = pure relevance). Deterministic: candidates
    are processed in id order, ties pick the smallest id.

    Scale shape: one Arrow ``applyInPandas`` per group; the kernel is
    k vectorized numpy passes (O(k·n·d) flops, no n×n matrix — the
    running ``max_sim`` vector is updated with one matvec per pick).
    """
    import numpy as np
    import pandas as pd

    by = list(by)
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    src = df.select(
        *by,
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__rel"),
        F.col(vec_col).alias("__v"),
    ).filter(F.col("__rel").isNotNull() & F.col("__v").isNotNull())
    by_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*by).schema
    )
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        (by_fields + ", " if by_fields else "")
        + f"{id_col} {id_type}, {score_col} double, "
        + "mmr_rank int, mmr_score double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_candidates:
            raise ValueError(
                f"mmr_select: group of {n} candidates exceeds "
                f"max_candidates={max_candidates}; MMR is a rerank over "
                "bounded candidate sets — block upstream (ANN top-N, "
                "cluster, stratum) or raise the bound"
            )
        pdf = pdf.sort_values("__id", ignore_index=True)
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
        )
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cos := 0 to everything
        xn = x / norms[:, None]
        rel = pdf["__rel"].to_numpy(dtype=np.float64)
        kk = min(k, n)
        chosen, objs = [], []
        max_sim = np.full(n, -np.inf)
        alive = np.ones(n, dtype=bool)
        for step in range(kk):
            obj = rel if step == 0 else lam * rel - (1.0 - lam) * max_sim
            obj = np.where(alive, obj, -np.inf)
            i = int(np.argmax(obj))  # first max = smallest id on ties
            chosen.append(i)
            objs.append(float(obj[i]))
            alive[i] = False
            sims = xn @ xn[i]
            if step == 0:
                max_sim = np.where(alive, sims, -np.inf)
            else:
                max_sim = np.maximum(max_sim, sims)
        out = pd.DataFrame(
            {
                id_col: pdf["__id"].iloc[chosen].to_numpy(),
                score_col: rel[chosen],
                "mmr_rank": np.arange(kk, dtype=np.int32),
                "mmr_score": objs,
            }
        )
        for c in by:
            out[c] = pdf[c].iloc[0]
        return out[[*by, id_col, score_col, "mmr_rank", "mmr_score"]]

    if by:
        return src.groupBy(*by).applyInPandas(kernel, out_schema)
    return (
        src.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: kernel(pdf.drop(columns="__g")).assign(__g=1),
            "__g int, " + out_schema,
        )
        .drop("__g")
    )
