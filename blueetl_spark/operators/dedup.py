"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of doing this on Spark):

- **Exact**: hash-groupBy on a normalized fingerprint — one shuffle on the
  16-byte digest, map-side combine, no text movement after the hash.
- **Exact Jaccard** (small/medium N or post-LSH verification): explode
  shingles → self-join on shingle → per-pair intersection counts → Jaccard
  via inclusion-exclusion. Quadratic only within shingle buckets.
- **MinHash+LSH** (the 100 TB path): k permutation-style hashes via
  ``xxhash64(shingle, seed_i)``, signature = per-seed min, band into b
  groups of r, bucket-join on (band, band-hash) so only same-bucket pairs
  are compared, then verify candidates with exact Jaccard. Everything
  JVM-side; no UDFs.
- **SimHash**: 64-bit, per-bit majority vote over shingle hashes, Hamming
  distance ≤ k for candidates; implemented with bitwise expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blueetl_spark.operators import graph
from blueetl_spark.operators.text import (
    fingerprint,
    shingles,
    winnowing_fingerprints,
)
from blueetl_spark.plans import atomic


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group by normalized-text fingerprint; keep the min id as canonical.

    Returns (fingerprint, keep_id, n_dups) per distinct content.
    """
    fp = fingerprint(df, text_col, id_col)
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"), F.count(id_col).alias("n_dups")
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    ids_unique: bool = True,
) -> DataFrame:
    """(id, shingle) exploded distinct shingle sets.

    With one row per document (``ids_unique=True``, the corpus-table
    contract every caller in this package satisfies) distinctness is per
    row, so it is enforced **row-locally** (``array_distinct`` before the
    explode) — a global ``.distinct()`` would shuffle the entire exploded
    shingle table just to dedup within each row's own output. For inputs
    where one ``id_col`` value spans multiple rows (e.g. pre-chunked
    documents), pass ``ids_unique=False`` to keep the global dedup —
    without it, duplicate (id, shingle) pairs would inflate Jaccard
    set/intersection counts into multiset counts."""
    out = _fan_out_small_scan(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("shingle"),
    )
    return out if ids_unique else out.distinct()


def _fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned input up to the cluster's
    parallelism before a CPU-heavy per-row kernel (shingling, hashing).

    A small parquet table arrives as ONE file split, so every downstream
    row-local stage — however well codegen'd — runs on one core while 31
    idle; measured on the sf0.1 documents table, that single-partition
    inheritance was 15-30× of the whole cold query time. The gate
    (``parts * 2 <= defaultParallelism``) means a real 100 TB scan
    (thousands of splits) NEVER pays the extra exchange — this only fires
    when the scan is too small for the exchange to matter anyway.

    Partition count comes from ``inputFiles()`` (a catalog lookup) rather
    than ``df.rdd.getNumPartitions()``: the RDD accessor forces a
    plan-to-RDD translation per call and is unsupported on Spark Connect
    and streaming frames, so anything non-batch/non-classic simply skips
    the fan-out (a no-op, never an error)."""
    try:
        sc = df.sparkSession.sparkContext
        if df.isStreaming:
            return df
        # inputFiles() is a plan walk, not a physical plan: many files ⇒
        # at least that many scan partitions ⇒ skip without ever building
        # the RDD. Few (or zero — range/createDataFrame) files may still
        # split into many partitions via maxPartitionBytes, so only then
        # confirm with the real partition count — the RDD translation is
        # cheap exactly when the input is small.
        if len(df.inputFiles()) * 2 > sc.defaultParallelism:
            return df
        parts = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect or other non-classic session
        return df
    if parts * 2 <= sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def band_bucket_stats(banded: DataFrame, keys: list[str]) -> DataFrame:
    """Per-band bucket-size aggregates for a banded-LSH frame — the
    observability half of the degenerate-bucket valve. A bucket of k rows
    feeds k²/2 candidate pairs into the self-join, so ``max_bucket`` and
    ``est_pairs`` (Σ k·(k−1)/2 per band) are exactly the knobs to watch
    before running pair-finding at corpus scale; feed the result into a
    ``max_bucket_size`` choice for :func:`_cap_band_buckets` users.

    ``keys`` must include the band column first, e.g. ``["band",
    "band_bits"]``. One extra aggregation job; cheap relative to the join
    it de-risks.
    """
    band_col = keys[0]
    return (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bs"))
        .groupBy(band_col)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("__bs").alias("max_bucket"),
            F.expr("percentile_approx(__bs, 0.99)").alias("p99_bucket"),
            F.sum(F.col("__bs") * (F.col("__bs") - 1) / 2).cast("long").alias(
                "est_pairs"
            ),
        )
        .orderBy(band_col)
    )


def _cap_band_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` before a banded
    self-join — the same stop-list move as ``shared_passage_pairs``'
    ``max_doc_freq``: a degenerate bucket (empty docs, boilerplate
    sharing a signature band) funnels the join key with k²/2 pairs that
    carry almost no dedup information.

    Recall trade, stated precisely: a true near-dup pair is missed ONLY
    if EVERY band the pair agrees on is degenerate. With ``n_bands >
    max_distance`` a close pair agrees on ≥ n_bands − max_distance
    bands, so losses concentrate exactly on the boilerplate-identical
    population the cap is aimed at. Default everywhere is ``None``
    (exact recall, the oracle-gated contract); set it from
    :func:`band_bucket_stats` evidence at corpus scale.
    """
    if max_bucket_size is None:
        return banded
    hot = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bs"))
        .filter(F.col("__bs") > max_bucket_size)
        .select(*keys)
    )
    return banded.join(hot, keys, "left_anti")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold (id_a < id_b).

    Inclusion-exclusion: |A∩B| from the shingle self-join, |A∪B| =
    |A|+|B|−|A∩B|. The self-join key is the shingle, so cost concentrates
    in frequent shingles — at scale, run :func:`minhash_lsh_candidates`
    first and feed only candidate pairs here.

    The shingle frame has three consumers (sizes + both join sides);
    pinned with an eager localCheckpoint — one computation, blocks
    reaped on GC, no cross-call cache leak (the ADVICE r5 class).
    """
    s = shingle_sets(df, text_col, id_col, n).localCheckpoint(eager=True)
    sizes = s.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = s.select(F.col(id_col).alias("id_a"), "shingle")
    b = s.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`jaccard_pairs` with PPJoin-style **prefix filtering** —
    the exact-recall scale path between "brute shingle self-join" and
    "MinHash (probabilistic recall)": identical output to the brute
    variant, guaranteed, but the self-join runs only over each set's
    PREFIX under a global rarest-first shingle order. The theorem
    (Chaudhuri/Bayardo): under any fixed total order, two sets with
    ``J ≥ t`` must share an element within their first
    ``|x| − ⌈t·|x|⌉ + 1`` elements — so prefix collisions are a
    complete candidate set, and rarest-first makes those prefixes the
    LOW-frequency shingles, exactly the ones whose join buckets stay
    small (the brute join's cost concentrates in frequent shingles;
    the prefix join never touches them).

    Stages, all exact: global shingle document-frequency (one count),
    rarest-first rank within each set (one window per doc over its own
    shingles), prefix self-join → candidate pairs, then the
    inclusion–exclusion verify joins the FULL sets for candidates
    only. ``⌊t·|x|⌋`` is used instead of ``⌈·⌉`` so a float
    last-ulp can only LENGTHEN a prefix (more candidates), never
    shorten one (lost recall).

    When to use which: this variant pays a CONSTANT overhead (the rank
    pass + candidate-restricted verify ≈ 2 extra stages) to buy an
    ASYMPTOTIC win — on a corpus with hot shingles (boilerplate,
    shared headers) the brute self-join's biggest bucket grows
    quadratically while the prefix join never touches it. On a corpus
    whose shingles are already near-unique the brute join is cheap and
    this overhead isn't repaid; and prefix filtering is a
    HIGH-threshold technique (prefix length ``≈ (1−t)·|x|`` — at
    t=0.2 prefixes are 80% of each set). Brute for small/clean, prefix
    for hot-key corpora at t ≥ ~0.5, MinHash when probabilistic recall
    is acceptable.
    """
    s = shingle_sets(df, text_col, id_col, n).localCheckpoint(eager=True)
    # document-frequency map: distinct-shingle-sized (a vocabulary, not
    # a corpus) — broadcast it so the ranking pass costs ONE shuffle
    # (the per-doc window) instead of two; for a vocabulary too big to
    # broadcast, drop the hint and AQE falls back to a shuffle join
    freq = s.groupBy("shingle").agg(F.count("*").alias("__df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    ranked = (
        s.join(F.broadcast(freq), "shingle")
        .withColumn("__rk", F.row_number().over(w))
        # set size from the same window partition — no extra sizes join
        .withColumn("__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    prefix_len = (
        F.col("__sz")
        - F.floor(F.lit(float(threshold)) * F.col("__sz")).cast("long")
        + 1
    )
    # The prefix frame is ~(1−t) of the corpus and feeds BOTH sides of
    # the candidate self-join; pinned so the df-aggregate + rank-window
    # pass executes ONCE — unpinned, each join side re-runs the whole
    # sort+window subtree, the exact duplicate a cluster pays twice in
    # shuffle. Locally the two shapes measure flat (r13 matched-calib
    # floors 2.75 committed / 2.85 pinned / 2.89 unpinned+ride, medians
    # 3.57 / 3.18 / 3.21) — kept for the structural 2-window-passes→1.
    # ``__sz`` rides along (already computed by the rank window), so the
    # candidate pairs carry both set sizes and the separate per-doc size
    # aggregate + two verify-side joins disappear.
    pref = (
        ranked.filter(F.col("__rk") <= prefix_len)
        .select(id_col, "shingle", "__sz")
        .localCheckpoint(eager=True)
    )
    cand = (
        pref.select(
            F.col(id_col).alias("id_a"), "shingle",
            F.col("__sz").alias("size_a"),
        )
        .join(
            pref.select(
                F.col(id_col).alias("id_b"), "shingle",
                F.col("__sz").alias("size_b"),
            ),
            "shingle",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # size_a/size_b are functions of id_a/id_b — same distinct set
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    a = s.select(F.col(id_col).alias("id_a"), "shingle")
    b = s.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def md5_60(col):
    """First 15 hex chars of md5 as a 60-bit bigint — DuckDB computes the
    identical value (``CAST('0x'||substring(md5(x),1,15) AS BIGINT)``),
    which makes md5-based sketches oracle-verifiable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    hash_fn: str = "xxhash64",
    with_size: bool = False,
) -> DataFrame:
    """MinHash signatures as an array<bigint> of per-permutation minima.

    ``with_size=True`` appends ``__sz`` — the document's DISTINCT
    shingle count — computed inside the SAME per-doc aggregate (the
    shingle explode is already distinct per row), so callers that need
    set sizes (containment) get them without a second shingle pass.

    The variable-length shingle string is hashed ONCE per row; the i-th
    "random permutation" re-hashes that fixed-width fingerprint — far
    cheaper than the naive formulation that runs all ``num_hashes`` hash
    functions over the full string (and, unlike a multiply-add universal
    hash, safe under Spark's ANSI overflow checking, which rejects long
    wraparound).

    ``hash_fn="xxhash64"`` (default, fastest): permutation i is
    ``xxhash64(h, i)``. ``hash_fn="md5"``: base and permutations via
    :func:`md5_60` (permutation i hashes ``concat(h, ':', i)``), chosen
    because DuckDB computes identical values, so the full pipeline is
    oracle-verifiable.

    Shape: explode the shingle set, hash each shingle once, then a
    ``num_hashes``-column ``min`` groupBy on the id. Every hash and min
    runs inside whole-stage codegen, and the partial (map-side)
    aggregate collapses each document to its final 64-long signature
    before the exchange — explode is row-local, so a document's shingles
    are always co-partitioned with it. The shuffle therefore moves
    exactly one signature-sized row per document (the operator's output
    size — the minimum any formulation can move). A previous "zero
    shuffle" variant computed the minima row-locally with nested
    higher-order functions; HOF lambdas are interpreted (CodegenFallback,
    per-element boxing), and at 64 permutations that measured **15× more
    CPU** than this codegen'd aggregate (21.7 s vs 1.4 s on the sf0.1
    corpus, single-core) — the signature-sized exchange it saved is
    noise by comparison. See PLANS.md.
    """
    if hash_fn == "xxhash64":
        base = F.xxhash64("__s")
        perm = lambda i: F.xxhash64(F.col("__h"), F.lit(i))  # noqa: E731
    elif hash_fn == "md5":
        base = md5_60(F.col("__s"))
        perm = lambda i: md5_60(  # noqa: E731
            F.concat(F.col("__h").cast("string"), F.lit(":"), F.lit(str(i)))
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hdf = (
        _fan_out_small_scan(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(text_col, n))).alias("__s"),
        )
        .select(F.col(id_col), base.alias("__h"))
    )
    size_aggs = [F.count(F.lit(1)).alias("__sz")] if with_size else []
    agg = hdf.groupBy(id_col).agg(
        *[F.min(perm(i)).alias(f"__m{i}") for i in range(num_hashes)],
        *size_aggs,
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"),
        *(["__sz"] if with_size else []),
    )


def banded_buckets(
    sig: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    hash_fn: str,
) -> DataFrame:
    """(id, band, band_hash) bucket-membership rows from signatures —
    the LSH banding step, shared by the batch candidate join and the
    incremental index."""

    def band_hash(b):
        cols = [
            F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)
        ]
        if hash_fn == "md5":
            return F.md5(F.concat_ws(":", *[c.cast("string") for c in cols]))
        return F.xxhash64(*cols).cast("string")

    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash signatures.

    ``sig`` accepts a precomputed (already pinned) signature frame for
    exactly ``df``'s rows, so a caller that also matches against an
    incremental index can hash the batch ONCE (see
    ``streaming/curate.near_dedup_batch`` — it used to signature the
    same documents three times per micro-batch).

    Signature split into ``bands`` bands of ``num_hashes // bands`` rows;
    docs sharing any band hash land in one bucket → equi-join on
    (band, band_hash). Returns distinct (id_a, id_b) candidates with the
    estimated signature similarity (fraction of matching hashes).

    ``hash_fn="md5"`` makes every stage (base hash, permutations, band
    bucket key) DuckDB-reproducible, so the full candidate set is
    oracle-verifiable; ``"xxhash64"`` is the faster Spark-only default.
    ``max_bucket_size`` (default None = exact banding recall) prunes
    degenerate band buckets pre-join — see :func:`_cap_band_buckets` /
    :func:`band_bucket_stats` for the trade and the sizing evidence.

    The signature subplan has three consumers (band explode + both verify
    sides); without a pin it computes three times — exchange reuse does
    NOT cover it (verified at 200k docs: 13.5 s ≈ 3× the 2.4 s signature
    job + join, zero ReusedExchange nodes in the final adaptive plan).
    It is pinned with an **eager localCheckpoint**, not ``.persist()``:
    one computation, blocks reaped by ContextCleaner when the result is
    GC'd — so no catalog-cache entry leaks across calls and no caller
    unpersist obligation (the ADVICE r5 failure mode), at the documented
    cost of truncated lineage (a lost block fails the job instead of
    recomputing — same trade every localCheckpoint site in this repo
    makes). Measured at 200k docs: 6-8 s vs 10-16 s recompute.
    """
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signatures(
            df, text_col, id_col, n, num_hashes, hash_fn
        ).localCheckpoint(eager=True)
    banded = banded_buckets(sig, id_col, bands, rows_per_band, hash_fn)
    banded = _cap_band_buckets(banded, ["band", "band_hash"], max_bucket_size)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    out = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(num_hashes),
        )
        .select("id_a", "id_b", "est_jaccard")
    )
    return out


def containment_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Asymmetric near-duplicate (CONTAINMENT) candidates: Jaccard LSH
    misses the "small doc quoted inside a big one" case (the union term
    dilutes J below any banding threshold even at 100% containment of
    the small side), but containment is recoverable from the SAME
    signatures plus exact set sizes:

        |A∩B| ≈ J/(1+J) · (|A|+|B|)        (from J = |A∩B|/|A∪B|)
        C_A   = |A∩B| / |A|,  C_B = |A∩B| / |B|

    Output: ``(id_a, id_b, est_jaccard, size_a, size_b,
    est_containment_a, est_containment_b)`` over the banded candidate
    pairs (estimates clamp to 1.0 — the MinHash estimator can
    overshoot). Candidate RECALL is still the symmetric banding's: a
    tiny doc inside a huge one may never share a band; for guaranteed
    small-in-big recall, partition the corpus by size band upstream.

    Cost over :func:`minhash_lsh_candidates`: one per-doc distinct-
    shingle count (map-side-combined aggregate over the already-
    exploded shingle pass) joined onto the candidate pairs — candidate-
    sized, never corpus². ``hash_fn="md5"`` keeps every stage (and this
    arithmetic) DuckDB-replayable.
    """
    # Signatures AND distinct-shingle sizes from ONE shingle pass
    # (with_size rides the same per-doc aggregate) — the old separate
    # `shingle_sets(...).groupBy(...)` sizes frame re-exploded the
    # corpus and, consumed by both join sides, planned that pass twice
    # (r13). The pinned frame is doc-count-sized either way.
    sig_sz = minhash_signatures(
        df, text_col, id_col, n, num_hashes, hash_fn, with_size=True
    ).localCheckpoint(eager=True)
    sig = sig_sz.select(id_col, "signature")
    cand = minhash_lsh_candidates(
        df, text_col, id_col, n, num_hashes, bands, hash_fn,
        max_bucket_size=max_bucket_size, sig=sig,
    )
    sizes = sig_sz.select(F.col(id_col), F.col("__sz"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("size_b"))
    ej = F.col("est_jaccard")
    inter = ej / (F.lit(1.0) + ej) * (F.col("size_a") + F.col("size_b"))

    def clamp_round(c):
        c = F.least(F.lit(1.0), c)
        return F.round(c, round_to) if round_to is not None else c

    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            "size_a",
            "size_b",
            clamp_round(inter / F.col("size_a")).alias("est_containment_a"),
            clamp_round(inter / F.col("size_b")).alias("est_containment_b"),
        )
    )


def cross_lsh_matches(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
    min_est_jaccard: float = 0.0,
    broadcast_eval: bool = True,
) -> DataFrame:
    """**Fuzzy decontamination**: per train document, how many eval
    documents it *near*-duplicates (shared LSH band + MinHash similarity
    ≥ ``min_est_jaccard``) — the cross-corpus counterpart of
    :func:`minhash_lsh_candidates`, catching lightly-edited benchmark
    copies that exact n-gram decontamination (``text.ngram_overlap``)
    misses.

    Output: one row per train document (zero-match docs included, as in
    every decontamination operator here): ``(id, n_matches,
    max_est_jaccard, contaminated_fuzzy)``.

    Scale shape — the asymmetry IS the design: benchmarks are MBs, the
    corpus is TBs.  With ``broadcast_eval=True`` (default) the eval
    side's banded bucket keys AND signatures are broadcast, so the
    train side flows map-only through signature aggregation → band
    probe → similarity verify, and the only corpus-wide shuffles are
    the signature groupBy and the per-doc match count (both map-side
    combined, both keyed on ``id_col``).  ``broadcast_eval=False``
    shuffle-joins on (band, band_hash) for an eval side that outgrows
    broadcast.  ``hash_fn="md5"`` makes every stage DuckDB-reproducible
    (see :func:`minhash_signatures`).
    """
    rows_per_band = num_hashes // bands
    mk_sig = lambda d: minhash_signatures(  # noqa: E731
        d, text_col, id_col, n, num_hashes, hash_fn
    )
    # Train signatures feed both the band probe and the verify join —
    # pin once (same 3-consumer recompute evidence as the self-join LSH).
    sig_tr = mk_sig(train).localCheckpoint(eager=True)
    # sig_ev feeds the band probe AND the verify join (plans twice), but
    # the eval side is benchmark-sized by design — an eager pin measured
    # dead flat at sf0.1 (2.33 -> 2.35 s matched-calib floor, r13) and
    # the duplicate stays trivial at any scale, so it is left lazy.
    sig_ev = mk_sig(eval_df)
    band_tr = banded_buckets(sig_tr, id_col, bands, rows_per_band, hash_fn)
    band_ev = banded_buckets(sig_ev, id_col, bands, rows_per_band, hash_fn).select(
        F.col(id_col).alias("__ev_id"), "band", "band_hash"
    )
    sig_ev_j = sig_ev.select(
        F.col(id_col).alias("__ev_id"), F.col("signature").alias("__ev_sig")
    )
    if broadcast_eval:
        band_ev, sig_ev_j = F.broadcast(band_ev), F.broadcast(sig_ev_j)
    cand = (
        band_tr.join(band_ev, ["band", "band_hash"])
        .select(id_col, "__ev_id")
        .distinct()
    )
    est = (
        cand.join(sig_tr, id_col)
        .join(sig_ev_j, "__ev_id")
        .withColumn(
            "__est",
            F.size(
                F.filter(
                    F.zip_with("signature", "__ev_sig", lambda x, y: x == y),
                    lambda m: m,
                )
            )
            / F.lit(num_hashes),
        )
        .filter(F.col("__est") >= min_est_jaccard)
    )
    agg = est.groupBy(id_col).agg(
        F.count("*").alias("n_matches"),
        F.max("__est").alias("max_est_jaccard"),
    )
    ids = train.select(id_col).distinct()
    return ids.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.col("max_est_jaccard"),
        (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated_fuzzy"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document, JVM-side.

    Per shingle: a base hash. Per bit position: +1 if set else −1, summed
    over shingles; the sign of each sum gives the output bit. Implemented
    as ``bits`` conditional sums over the exploded shingle table — one
    shuffle, map-side combined.

    ``hash_fn="xxhash64"`` (default, fastest) or ``"md5"`` — the first 15
    hex chars of md5 as a 60-bit integer, chosen because DuckDB computes
    the identical value, which makes the md5 variant oracle-verifiable
    (use ``bits<=60`` with it).
    """
    s = shingle_sets(df, text_col, id_col, n)
    if hash_fn == "xxhash64":
        s = s.withColumn("h", F.xxhash64(F.col("shingle")))
    elif hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 variant supports at most 60 bits")
        s = s.withColumn(
            "h", F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # sum the RAW bit (0/1) per position instead of a ±1 vote: the vote
    # sum is 2·s_i − n, so "vote > 0" ≡ "2·s_i > n" — integer-exact,
    # and each per-row update drops the equality compare + conditional
    # branch (bits × rows of them; the aggregate is the operator's
    # dominant stage)
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = s.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    # Flat assembly of the output word: one n-ary concat_ws of '0'/'1'
    # chars (MSB first) + a signed base-2 conv. The obvious alternative —
    # folding ``bits`` bitwiseOR(shiftleft(...)) calls — builds a
    # depth-64 expression tree whose whole-stage codegen alone costs
    # ~2 s per fresh plan (measured at sf0.1; the flat form compiles in
    # ~0.5 s and executes identically).
    bin_str = F.concat_ws(
        "",
        *[
            F.when(F.col(f"b{i}") * 2 > F.col("__n"), "1").otherwise("0")
            for i in range(bits - 1, -1, -1)
        ],
    )
    sim = F.conv(bin_str, 2, -10).cast("long")
    return agg.select(F.col(id_col), sim.alias("simhash"))


def hamming_distance(col_a, col_b):
    """Popcount of XOR — Hamming distance between two 64-bit simhashes."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def simhash_bands(
    sigs: DataFrame,
    id_col: str,
    n_bands: int,
    w: int,
    keep_sig: bool = False,
) -> DataFrame:
    """Explode a SimHash signature frame into its contiguous bit-bands:
    (id, band, band_bits[, simhash]) — the pigeonhole-LSH join key shared
    by the batch pair-finder and the incremental index."""
    mask = (1 << w) - 1
    cols = [F.col(id_col)] + ([F.col("simhash")] if keep_sig else [])
    out_cols = [id_col] + (["simhash"] if keep_sig else [])
    return sigs.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * w)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(*out_cols, "bb.band", "bb.band_bits")


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_distance: int = 3,
    n_bands: int | None = None,
    max_bucket_size: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by banded-Hamming LSH over SimHash:
    (id_a, id_b, hamming) with ``hamming ≤ max_distance``, id_a < id_b.

    The pair-finding step :func:`simhash` was missing: with only the
    per-doc signature, finding all pairs within distance d is an
    all-pairs popcount. Pigeonhole banding makes it an equi-join: split
    the word into ``n_bands`` contiguous bit-bands (``n_bands >
    max_distance``, default ``max_distance + 1``); two words within
    distance d differ in at most d bands, so at least one band is
    IDENTICAL — the candidate join on (band, band_bits) is exact (no
    recall loss, same argument as the image dHash LSH in
    ``operators/multimodal.py``; bits not covered when ``n_bands``
    doesn't divide ``bits`` only ever ADD candidates). Candidates are
    verified with the real popcount. Signatures ride through the join,
    so the verify step needs no second signature lookup. The signature
    subplan (consumed by both self-join sides) is pinned with an eager
    ``localCheckpoint`` rather than ``.persist()``: one computation and
    blocks reaped on GC — no catalog-cache entry leaking across calls
    and no caller unpersist obligation (the ADVICE r5 failure mode of
    the old private ``_signatures`` handle), no 2× recompute either
    (exchange reuse does not cover the self-join — verified on the
    MinHash twin, same plan shape).

    ``max_bucket_size`` is the degenerate-bucket valve
    (:func:`_cap_band_buckets`): docs sharing a signature band
    (boilerplate, empty text) funnel one join key into k²/2 candidates;
    size the cap from :func:`band_bucket_stats` over the banded frame.
    ``None`` (default) keeps exact recall — the oracle-gated contract.
    ``sig`` accepts a precomputed (already pinned) signature frame for
    exactly ``df``'s rows — the single-hash streaming batch path
    (``streaming/curate.near_dedup_batch``).
    """
    if n_bands is None:
        n_bands = max_distance + 1
    if n_bands <= max_distance:
        raise ValueError(
            f"pigeonhole needs n_bands > max_distance, got {n_bands} <= {max_distance}"
        )
    w = bits // n_bands
    if w < 1:
        raise ValueError(f"n_bands={n_bands} exceeds bits={bits}")
    sigs = (
        sig
        if sig is not None
        else simhash(df, text_col, id_col, n, bits, hash_fn).localCheckpoint(
            eager=True
        )
    )
    banded = simhash_bands(sigs, id_col, n_bands, w, keep_sig=True)
    banded = _cap_band_buckets(banded, ["band", "band_bits"], max_bucket_size)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
        "band", "band_bits",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
        "band", "band_bits",
    )
    out = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            hamming_distance(F.col("sim_a"), F.col("sim_b")).cast("long"),
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )
    return out


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "bruteforce",
    n_planes: int = 8,
    seed: int = 42,
    n_tables: int = 4,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ threshold and id_a < id_b.

    ``method="bruteforce"`` scores all pairs exactly with a **broadcast
    matrix kernel**: the corpus (ids + L2-normalized float64 matrix) is
    broadcast once, and each partition of the left side computes a numpy
    ``A_batch @ B.T`` block — vectorized BLAS instead of 2·n²·dim
    interpreted higher-order-function evaluations, and no n²-row join is
    ever materialized (only the ≥ threshold survivors are emitted). This
    is the right shape whenever one side fits in a broadcast (~10⁶ × 64
    f64 ≈ 0.5 GB) — enforced by ``max_broadcast_rows``: the collect is
    capped, and a corpus past the cap raises with a pointer at the scale
    path instead of silently flooding the driver. Beyond the cap,
    ``method="lsh"`` buckets vectors by
    random-hyperplane sign sketch and only scores within-bucket pairs —
    one scan to sketch, an equi-join on the bucket key, AQE-handled
    skew; recall < 1 by construction since a near-dup pair split across
    buckets is never scored.
    """
    from blueetl_spark.operators import similarity

    id_type = dict(df.dtypes)[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    if method == "lsh":
        probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if probe is None:  # no embeddings at all -> no pairs
            return df.sparkSession.createDataFrame([], out_schema)
        dim = len(probe[0])
        a = similarity.sketch_tables(
            df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")),
            dim, n_planes, n_tables, seed, "__va",
        )
        b = similarity.sketch_tables(
            df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")),
            dim, n_planes, n_tables, seed, "__vb",
        )
        cand = (
            a.select("id_a", "__table", "__bucket")
            .join(b.select("id_b", "__table", "__bucket"), ["__table", "__bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()  # a pair bucketed together in several tables scores once
        )
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        na = similarity._norm(F.col("__va"))
        nb = similarity._norm(F.col("__vb"))
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn(
                "cosine", similarity._dot(F.col("__va"), F.col("__vb")) / (na * nb)
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    if method != "bruteforce":
        raise ValueError(f"unknown method {method!r}")

    import numpy as np
    import pandas as pd

    # Size-gated collect: never pull more than the cap + 1 rows to the
    # driver, and fail with a actionable error instead of OOMing it.
    corpus = df.select(id_col, vec_col).limit(max_broadcast_rows + 1).toPandas()
    if len(corpus) > max_broadcast_rows:
        raise ValueError(
            "embedding_near_dup(method='bruteforce') broadcasts the whole "
            f"corpus to every executor, and this corpus exceeds "
            f"max_broadcast_rows={max_broadcast_rows}. Use method='lsh' "
            "(bucketed equi-join, the scale path), or raise "
            "max_broadcast_rows explicitly if the matrix genuinely fits "
            "in driver and executor memory."
        )
    if len(corpus) == 0:  # empty corpus -> no pairs, not np.stack ValueError
        return df.sparkSession.createDataFrame([], out_schema)
    ids = corpus[id_col].to_numpy()
    mat = np.stack(corpus[vec_col].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def score(batches):
        b_ids, b_mat = bc.value
        m = b_mat.shape[0]
        # chunk the left side so the cosine block stays ~64 MB and reuses
        # one preallocated buffer (a fresh rows x corpus allocation per
        # batch is first-touch page-fault bound — see PLANS.md, IVF
        # section — and at 10^6 corpus rows would be tens of GB)
        chunk = max(1, (64 << 20) // (8 * m))
        buf = np.empty((chunk, m))
        for pdf in batches:
            all_ids = pdf[id_col].to_numpy()
            all_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            all_mat /= np.linalg.norm(all_mat, axis=1, keepdims=True)
            for s in range(0, len(all_mat), chunk):
                a_ids = all_ids[s : s + chunk]
                cos = buf[: len(a_ids)]
                np.matmul(all_mat[s : s + chunk], b_mat.T, out=cos)
                ai, bi = np.nonzero(
                    (cos >= threshold) & (a_ids[:, None] < b_ids[None, :])
                )
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": b_ids[bi], "cosine": cos[ai, bi]}
                )

    # output ids keep the input id column's type (string/int ids work the
    # same as on the lsh path — a hardcoded bigint would crash the Arrow
    # conversion for non-integral id columns)
    return df.select(id_col, vec_col).mapInPandas(score, out_schema)


def _driver_components(spark, edge_pdf, id_type, nodes, id_col) -> DataFrame:
    """Union-find (path compression + min-label resolution) over a
    collected edge list; singleton nodes join the mapping distributed."""
    from blueetl_spark.session import local_df

    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    a_col, b_col = edge_pdf.columns[0], edge_pdf.columns[1]
    for a, b in zip(edge_pdf[a_col], edge_pdf[b_col]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    # label every touched id with the min id of its set
    members: dict = {}
    touched = set(edge_pdf[a_col]) | set(edge_pdf[b_col])
    for x in touched:
        members.setdefault(find(x), []).append(x)
    mapping = [
        (x, mn) for root, xs in members.items() for mn in [min(xs)] for x in xs
    ]
    mdf = local_df(spark, mapping, f"id {id_type}, component {id_type}")
    if nodes is None:
        return mdf
    # full outer: the universe is edge-ids ∪ nodes, matching the
    # distributed path (edge ids absent from `nodes` still emit)
    return (
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .join(mdf, "id", "full")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
    assume_distinct_pairs: bool = False,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (id, component) where the
    component label is the smallest id reachable through the pair graph.

    **Adaptive execution**: duplicate-pair graphs are usually tiny
    relative to the corpus (edges ∝ near-duplicates, not documents), so
    when a bounded probe (``limit(max_driver_edges + 1)``) shows the
    edge list fits, the transitive closure runs as driver-side
    union-find with path compression — micro- to milliseconds, versus
    an inherently multi-round distributed iteration. Only the EDGE list
    is ever collected; ``nodes`` (which scales with the corpus) stays
    distributed and picks up its singleton labels through a left join.
    Past the cap — or with ``max_driver_edges=0`` — the O(log n)-round
    pointer-jumping path below runs (2M-node adversarial-chain stress
    in PLANS.md).

    This is the step a real dedup pipeline needs after pair generation
    (LSH/SimHash/Jaccard emit *pairs*; keeping one doc per duplicate
    *group* needs the transitive closure). Hash-min label propagation
    **with pointer jumping**: every node starts labeled with itself; each
    round a node takes the minimum of (a) its neighbors' labels across
    the symmetrized edge list and (b) its current label's own label
    (``label(label(v))`` — path halving). Edge propagation alone needs
    O(diameter) rounds, which an adversarial chain graph turns into
    thousands; the jump term contracts label chains geometrically, giving
    O(log n) rounds on any graph. Each round is two equi-joins + one
    map-side-combinable min-aggregate, all shuffle-partitioned by id.

    ``nodes`` (optional) adds isolated documents as their own singleton
    components; without it only ids appearing in ``pairs`` are labeled.
    The rounds run on ``graph._rounds``: the round's plan references the
    previous labels three times (propagate, jump, carry), so an uncut
    lineage grows 3^k plan nodes by round k, and the driver OOMed in
    query planning around round 5 (an 80-edge cyclic graph at 4 GB
    heap; a cut every 6 rounds allowed 3^6 ≈ 729x growth).

    ``assume_distinct_pairs=True`` skips the edge-dedup shuffle — correct
    whenever the pair source already emits unique (id_a < id_b) pairs
    (every generator in this package does); duplicate edges only cost
    redundant min-agg input, they never change the result, but the
    skipped ``distinct`` is one full shuffle of the edge list.

    The propagate join goes through ``graph._EdgeSide`` and the pointer
    jump follows the same bound, from the label frame's row count,
    taken once (labels only re-point, they never appear or vanish).
    ``min`` is order-exact, so the result is bit-identical either way.

    The evidence for the edge layout here is weaker than for the graph
    operators. In the matched-calib A/B at 20M edges against a shuffled
    edge list without the layout (``plans/r14/edgecache_ab_20m.json``),
    the medians tied (33.72 s vs 33.73 s) and only the floors favoured
    it (25.6 s vs 31.8 s, 0.80×), under bursty co-tenant load. It is
    kept so that every iterative operator follows one rule; a
    quiet-host re-measurement could still overturn it.
    """
    probed = False
    if max_driver_edges:
        # persist BEFORE probing: when the probe overflows the cap, the
        # distributed path below re-reads the same (often expensive —
        # LSH-join-shaped) pair subtree from cache instead of recomputing
        # it; released together with the symmetrized edge list.
        pairs = pairs.persist()
        probed = True
        probe = pairs.select(id_a, id_b).limit(max_driver_edges + 1).toPandas()
        if len(probe) <= max_driver_edges:
            out = _driver_components(
                pairs.sparkSession, probe, dict(pairs.dtypes)[id_a], nodes, id_col
            )
            pairs.unpersist()
            return out

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    if not assume_distinct_pairs:
        edges = edges.distinct()
    edges = edges.persist()
    labels = edges.select(F.col("src").alias("id")).distinct()
    if nodes is not None:
        labels = labels.union(nodes.select(F.col(id_col).alias("id"))).distinct()
    labels = labels.withColumn("component", F.col("id")).localCheckpoint()
    # Convergence witness. Labels are monotonically non-increasing (the
    # min always includes the node's current label), so for integral /
    # decimal ids the exact label sum (decimal(38,0) — no overflow at any
    # id range) is unchanged ⟺ fixed point: one map-side-combined
    # aggregate on the frame the loop must materialize anyway. For any
    # other id type (string hashes, floats) the cast would crash under
    # ANSI — or worse, go all-NULL and fake instant convergence with it
    # off — so those fall back to the join-the-two-generations changed
    # count, paying one extra shuffle join per round.
    id_type = dict(labels.dtypes)["component"]
    summable = id_type in ("tinyint", "smallint", "int", "bigint") or (
        id_type.startswith("decimal")
    )
    n = graph._rows(labels)
    sums = []

    def step(labels, _):
        propagated = edge_side.join(labels, n).select(
            F.col("dst").alias("id"), "component"
        )
        jump_side = labels.select(
            F.col("id").alias("component"),
            F.col("component").alias("__cc_jump"),
        )
        jumped = labels.join(
            graph._broadcast_within(jump_side, n), "component"
        ).select("id", F.col("__cc_jump").alias("component"))
        return (
            propagated.union(jumped)
            .union(labels.select("id", "component"))
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    def settled(old, new):
        if not summable:
            return graph._rows(
                new.join(old.withColumnRenamed("component", "__old"), "id")
                .filter(F.col("component") != F.col("__old"))
            ) == 0
        sums.append(new.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0])
        return len(sums) > 1 and sums[-1] == sums[-2]

    with graph._EdgeSide(edges, persisted=True) as edge_side:
        labels = graph._rounds(labels, step, max_iter, settled)
    if probed:
        pairs.unpersist()
    return labels


def keep_canonical(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    assume_distinct_pairs: bool = False,
) -> DataFrame:
    """Filter ``docs`` to one canonical row per duplicate component (the
    smallest id wins); documents in no pair survive untouched.

    The losers set is O(duplicate documents) — at a 20-50% dup rate on a
    100 TB corpus that is billions of rows, so no broadcast hint is forced
    on the anti join: AQE picks broadcast when the side is actually small
    and falls back to a shuffled hash join otherwise.
    """
    comp = connected_components(
        pairs, id_a=id_a, id_b=id_b, assume_distinct_pairs=assume_distinct_pairs
    )
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def shared_passage_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplicate candidates: (id_a, id_b, n_shared) pairs
    of documents sharing ≥ ``min_shared`` winnowing fingerprints.

    Whole-document MinHash/SimHash miss *copied passages* — boilerplate,
    licenses, quoted paragraphs — whenever the surrounding text keeps
    overall Jaccard low. Winnowing guarantees any shared run of
    ≥ ``w + n − 1`` tokens yields a shared fingerprint
    (:func:`text.winnowing_fingerprints`), so fingerprint co-occurrence
    is exactly a shared-passage signal; pair it with the LSH family for
    full-coverage dedup.

    Scale shape: fingerprints explode once, pairs come from one
    equi-join on the 8-byte fingerprint, and the count aggregates
    map-side. The quadratic hazard is a fingerprint present in VERY many
    documents (site boilerplate: k docs → k²/2 pairs); ``max_doc_freq``
    prunes those posting lists before the join — the standard stop-list
    move, and the dropped fingerprints are precisely the ones carrying
    no dedup information (they'd pair everything with everything). The
    default (256 → ≤32k pairs per fingerprint) keeps a naive invocation
    safe at corpus scale; pass ``None`` explicitly to disable pruning.
    """
    fps = df.select(
        F.col(id_col),
        F.explode(
            winnowing_fingerprints(text_col, n=n, w=w, hash_fn=hash_fn)
        ).alias("__fp"),
    )
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__fp")
        )
        fps = fps.join(hot, "__fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "__fp")
    b = fps.select(F.col(id_col).alias("id_b"), "__fp")
    return (
        a.join(b, "__fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Incremental dedup — new batches against a persisted fingerprint index
# ---------------------------------------------------------------------------


def incremental_exact(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    update: bool = True,
) -> DataFrame:
    """Exact dedup of a NEW batch against the accumulated corpus history
    (the daily-crawl pattern: today's documents vs everything already
    ingested), without ever re-reading historical text.

    The index is a parquet table of 16-byte content digests. A batch is
    (1) deduped within itself (min id per digest), (2) anti-joined
    against the index, and (3) — with ``update`` — its surviving digests
    are APPENDED to the index, so the next batch sees them. Returns the
    surviving rows of ``new_docs`` (all columns).

    Scale shape: the anti-join shuffles digests, never text; history
    grows as one digest row per distinct document ever seen (16 bytes +
    overhead per billion-doc corpus ≈ tens of GB — a normal shuffle).
    Appends are new files only (no rewrite), so the index is also safe
    to write from exactly-once batch jobs. To compact it, rewrite it
    into a staging dir with :func:`blueetl_spark.plans.layout.compact`
    (which refuses an in-place rewrite) and publish that with
    :func:`blueetl_spark.plans.atomic.swap_dir`. A swap or purge
    interrupted mid-publish is repaired before the index is read (the
    recover-first rule of ``plans/atomic.py``). For heavy daily traffic
    store it bucketed by digest (``bucketBy``) to make the anti-join
    co-located.
    """
    spark = new_docs.sparkSession
    atomic.recover_dir(spark, index_path)
    fp = fingerprint(new_docs, text_col, id_col)
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    if atomic.fs_exists(spark, index_path):
        seen = spark.read.parquet(index_path).select("fingerprint")
        keep = keep.join(seen, "fingerprint", "left_anti")
    # Eager snapshot BEFORE the index append. Two reasons: (1) the
    # survivor set is consumed twice (append + returned semi-join) and
    # the checkpoint computes the fingerprint/anti-join subtree once;
    # (2) read-after-append hazard — the history scan's file listing is
    # resolved lazily, so a plan still referencing it after the append
    # would see the batch's OWN digests and dedup everything away
    # (observed: a lazily-cached keep read back empty).
    keep = keep.localCheckpoint()
    fresh = new_docs.join(keep.select(id_col), id_col, "left_semi")
    if update:
        # distinct survivors' digests only — the index never holds dups
        keep.select("fingerprint").write.mode("append").parquet(index_path)
    return fresh


def incremental_minhash(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
    threshold: float = 0.7,
    update: bool = True,
    storage: str = "parquet",
    n_buckets: int = 64,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate matches of a NEW batch against the historical LSH
    index: (new_id, old_id, est_jaccard) pairs with signature similarity
    ≥ ``threshold``. ``sig`` accepts a precomputed (already pinned)
    signature frame for exactly ``new_docs``'s rows — the single-hash
    streaming batch path.

    The index holds per-document signatures and their band buckets —
    NOT text — so history costs ``num_hashes × 8`` bytes per document
    and candidate generation is one equi-join of the batch's bucket rows
    against the index's (band, band_hash) rows. Estimated Jaccard comes
    from the stored signatures, exactly like the batch path. With
    ``update``, the batch's signatures and buckets are appended
    (callers typically append only ids that survived their keep-policy —
    pass the filtered batch). Batch-internal pairs are NOT included;
    run :func:`minhash_lsh_candidates` on the batch for those.

    ``storage`` picks the index layout:

    - ``"parquet"`` (default): plain parquet dirs under ``index_path``.
      The candidate join shuffles BOTH sides on (band, band_hash) every
      batch — fine while history × daily batch is moderate.
    - ``"bucketed"``: catalog tables (``index_path`` is a table-name
      prefix) written ``bucketBy(n_buckets)`` — buckets on the join key
      (band, band_hash), signatures on the id. Spark then plans the
      candidate join WITHOUT exchanging the history side (its bucketed
      scan already satisfies the join distribution; only the
      batch-sized side shuffles, to ``n_buckets`` partitions), and the
      signature lookup likewise scans history co-located on the id.
      This is the heavy-daily-traffic layout the parquet mode's
      docstring used to merely recommend; at a billion-document history
      it converts the per-batch cost from "re-shuffle history" to
      "stream history's matching buckets". ``n_buckets`` must stay
      constant across appends (validated; size so one bucket of the
      grown index is a few hundred MB). Plan-guarded in
      ``tests/test_plans.py``.
    """
    spark = new_docs.sparkSession
    rows_per_band = num_hashes // bands
    # eager snapshot: sig feeds the match join, the banding, AND the
    # index append — one computation, and no lazy plan is left reading
    # the index after we append to it (see incremental_exact)
    if sig is None:
        sig = minhash_signatures(
            new_docs, text_col, id_col, n, num_hashes, hash_fn
        ).localCheckpoint()
    banded = banded_buckets(sig, id_col, bands, rows_per_band, hash_fn)
    store = _mh_store(spark, index_path, storage, id_col, n_buckets)
    id_type = dict(new_docs.dtypes)[id_col]
    out_schema = f"new_id {id_type}, old_id {id_type}, est_jaccard double"
    if store.exists():
        # purged ids (tombstones) never match; see purge_minhash_index
        old_buckets = store.read_buckets()
        old_sigs = store.read_signatures()
        matches = _mh_match(
            banded, sig, old_buckets, old_sigs, id_col, num_hashes, threshold
        )
    else:
        matches = spark.createDataFrame([], out_schema)
    if update:
        # snapshot the matches before appending: their plan reads the
        # OLD index files, and the lazy file listing would otherwise
        # pick up this batch's own signatures post-append (self-matches)
        matches = matches.localCheckpoint()
        store.append(sig, banded)
    return matches


def _mh_match(
    banded: DataFrame,
    sig: DataFrame,
    old_buckets: DataFrame,
    old_sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Shared batch-vs-history match: bucket equi-join → distinct pairs →
    signature-similarity estimate (identical to the batch LSH path)."""
    cand = (
        banded.select(F.col(id_col).alias("new_id"), "band", "band_hash")
        .join(
            old_buckets.select(
                F.col(id_col).alias("old_id"), "band", "band_hash"
            ),
            ["band", "band_hash"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    return (
        cand.join(
            sig.select(F.col(id_col).alias("new_id"), F.col("signature").alias("sig_n")),
            "new_id",
        )
        .join(
            old_sigs.select(F.col(id_col).alias("old_id"), F.col("signature").alias("sig_o")),
            "old_id",
        )
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(F.zip_with("sig_n", "sig_o", lambda x, y: x == y), lambda m: m)
            )
            / F.lit(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "old_id", "est_jaccard")
    )


def incremental_simhash(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_distance: int = 3,
    n_bands: int | None = None,
    update: bool = True,
    storage: str = "parquet",
    n_buckets: int = 64,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate matches of a NEW batch against a historical SimHash
    index: (new_id, old_id, hamming) pairs with ``hamming ≤
    max_distance`` — the incremental twin of :func:`simhash_candidates`,
    shaped exactly like :func:`incremental_minhash`.

    History costs 8 bytes of signature per document (plus the band
    rows); text is never stored or re-read. Candidates come from one
    equi-join of the batch's pigeonhole bands against the index's
    (band, band_hash) rows — exact recall by the same argument as the
    batch path — and the stored signatures verify with the real
    popcount. With ``update``, the batch's signature and band rows are
    appended. Batch-internal pairs are NOT included; run
    :func:`simhash_candidates` on the batch for those.

    The index layout (``storage``/``n_buckets``) and its whole
    lifecycle are shared with the MinHash index:
    :func:`purge_minhash_index` / :func:`compact_minhash_index` manage
    tombstones and compaction for this index identically (the stores
    are column-agnostic), including the mid-swap crash recovery.
    """
    if n_bands is None:
        n_bands = max_distance + 1
    if n_bands <= max_distance:
        raise ValueError(
            f"pigeonhole needs n_bands > max_distance, got {n_bands} <= {max_distance}"
        )
    w = bits // n_bands
    if w < 1:
        raise ValueError(f"n_bands={n_bands} exceeds bits={bits}")
    spark = new_docs.sparkSession
    # eager snapshot: sig feeds the match join, the banding, AND the
    # index append (same reasoning as incremental_minhash)
    if sig is None:
        sig = simhash(
            new_docs, text_col, id_col, n, bits, hash_fn
        ).localCheckpoint()
    banded = simhash_bands(sig, id_col, n_bands, w).withColumnRenamed(
        "band_bits", "band_hash"  # the stores' bucketed layout keys on this name
    )
    store = _mh_store(spark, index_path, storage, id_col, n_buckets)
    id_type = dict(new_docs.dtypes)[id_col]
    out_schema = f"new_id {id_type}, old_id {id_type}, hamming bigint"
    if store.exists():
        old_buckets = store.read_buckets()
        old_sigs = store.read_signatures()
        cand = (
            banded.select(F.col(id_col).alias("new_id"), "band", "band_hash")
            .join(
                old_buckets.select(
                    F.col(id_col).alias("old_id"), "band", "band_hash"
                ),
                ["band", "band_hash"],
            )
            .select("new_id", "old_id")
            .distinct()
        )
        matches = (
            cand.join(
                sig.select(F.col(id_col).alias("new_id"),
                           F.col("simhash").alias("sim_n")),
                "new_id",
            )
            .join(
                old_sigs.select(F.col(id_col).alias("old_id"),
                                F.col("simhash").alias("sim_o")),
                "old_id",
            )
            .withColumn(
                "hamming",
                hamming_distance(F.col("sim_n"), F.col("sim_o")).cast("long"),
            )
            .filter(F.col("hamming") <= max_distance)
            .select("new_id", "old_id", "hamming")
        )
    else:
        matches = spark.createDataFrame([], out_schema)
    if update:
        # snapshot before appending so the match plan never re-lists the
        # index files post-append (self-matches) — see incremental_minhash
        matches = matches.localCheckpoint()
        store.append(sig, banded)
    return matches


# ---------------------------------------------------------------------------
# Index storage backends (parquet dirs vs bucketed catalog tables)
# ---------------------------------------------------------------------------


class _ParquetMinhashStore:
    """Plain parquet layout: ``{path}/signatures.parquet``,
    ``{path}/buckets.parquet``, ``{path}/tombstones.parquet``."""

    def __init__(self, spark, path: str, id_col: str):
        self.spark, self.path, self.id_col = spark, path, id_col
        # plain string joins: pathlib would collapse the double slash of
        # hdfs:// / s3a:// URIs and its exists() is driver-local anyway
        self.sig_dir = f"{path}/signatures.parquet"
        self.bucket_dir = f"{path}/buckets.parquet"
        self.ts_dir = f"{path}/tombstones.parquet"

    def exists(self) -> bool:
        self._recover()
        return atomic.fs_exists(self.spark, self.bucket_dir)

    def _recover(self) -> None:
        """Repair a compaction interrupted mid-swap so the index is always
        readable in either the old or the new state, never neither
        (:func:`blueetl_spark.plans.atomic.recover_dir`; the tombstone dir
        is only deleted after EVERY swap succeeded, so a restored old
        state still reads correctly through the tombstone anti-join)."""
        for cur in (self.sig_dir, self.bucket_dir):
            atomic.recover_dir(self.spark, cur)

    def _read(self, data_dir: str) -> DataFrame:
        self._recover()
        return atomic.without_tombstones(
            self.spark.read.parquet(data_dir), self.ts_dir, self.id_col
        )

    def read_buckets(self) -> DataFrame:
        return self._read(self.bucket_dir)

    def read_signatures(self) -> DataFrame:
        return self._read(self.sig_dir)

    def append(self, sig: DataFrame, banded: DataFrame) -> None:
        self._recover()
        sig.write.mode("append").parquet(self.sig_dir)
        banded.write.mode("append").parquet(self.bucket_dir)

    def append_tombstones(self, ids: DataFrame) -> None:
        ids.write.mode("append").parquet(self.ts_dir)

    def compact(self) -> dict[str, int]:
        self._recover()
        has_ts = atomic.fs_exists(self.spark, self.ts_dir)
        counts: dict[str, int] = {}
        for name, cur in (
            ("signatures", self.sig_dir),
            ("buckets", self.bucket_dir),
        ):
            if not atomic.fs_exists(self.spark, cur):
                counts[name] = 0
                continue
            # unique=None, full-row: an at-least-once replay appends
            # identical signature/bucket rows for the same id — matching
            # stays correct meanwhile (candidates are distinct pairs),
            # but compaction is where they fold out
            counts[name] = atomic.compact_dir(
                self.spark, cur, self.ts_dir, self.id_col, None,
                lambda df, dest: df.write.mode("overwrite").parquet(dest),
            )
        if has_ts:
            atomic.delete_dir(self.spark, self.ts_dir)
        return counts


class _BucketedMinhashStore:
    """Catalog-table layout: ``{prefix}_signatures`` bucketed on the id,
    ``{prefix}_buckets`` bucketed on (band, band_hash), so the per-batch
    match never exchanges the history side (see
    ``plans/bucketing.py`` for the co-location mechanics)."""

    def __init__(self, spark, prefix: str, id_col: str, n_buckets: int):
        self.spark, self.prefix, self.id_col = spark, prefix, id_col
        self.n_buckets = n_buckets
        self.sig_tbl = f"{prefix}_signatures"
        self.bucket_tbl = f"{prefix}_buckets"
        self.ts_tbl = f"{prefix}_tombstones"

    def exists(self) -> bool:
        self._recover()
        return self.spark.catalog.tableExists(self.bucket_tbl)

    def _check_spec(self) -> None:
        from blueetl_spark.plans.bucketing import bucket_spec

        spec = bucket_spec(self.spark, self.bucket_tbl)
        if spec is not None and spec[1] != self.n_buckets:
            raise ValueError(
                f"index {self.bucket_tbl} has {spec[1]} buckets; appends "
                f"must keep the original count (got n_buckets={self.n_buckets})"
            )

    def _recover(self) -> None:
        """Catalog twin of the parquet layout's mid-swap repair: a crash
        between the compaction's DROP and RENAME leaves the main table
        missing but ``{tbl}__compact`` complete -> promote it; a crash
        before the DROP leaves both -> the staging table is re-derivable
        (tombstones only clear after every swap), drop it and keep the
        old state. Idempotent, metadata-only."""
        for tbl in (self.sig_tbl, self.bucket_tbl):
            tmp = f"{tbl}__compact"
            if self.spark.catalog.tableExists(tmp):
                if not self.spark.catalog.tableExists(tbl):
                    self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {tbl}")
                else:
                    self.spark.sql(f"DROP TABLE {tmp}")

    def _minus_ts(self, df: DataFrame) -> DataFrame:
        if not self.spark.catalog.tableExists(self.ts_tbl):
            return df
        return df.join(
            self.spark.table(self.ts_tbl).select(self.id_col),
            self.id_col,
            "left_anti",
        )

    def read_buckets(self) -> DataFrame:
        self._recover()
        return self._minus_ts(self.spark.table(self.bucket_tbl))

    def read_signatures(self) -> DataFrame:
        self._recover()
        return self._minus_ts(self.spark.table(self.sig_tbl))

    def append(self, sig: DataFrame, banded: DataFrame) -> None:
        if self.exists():
            self._check_spec()
        (
            sig.write.mode("append").format("parquet")
            .bucketBy(self.n_buckets, self.id_col)
            .sortBy(self.id_col)
            .saveAsTable(self.sig_tbl)
        )
        (
            banded.write.mode("append").format("parquet")
            .bucketBy(self.n_buckets, "band", "band_hash")
            .saveAsTable(self.bucket_tbl)
        )

    def append_tombstones(self, ids: DataFrame) -> None:
        ids.write.mode("append").format("parquet").saveAsTable(self.ts_tbl)

    def compact(self) -> dict[str, int]:
        self._recover()
        counts: dict[str, int] = {}
        has_ts = self.spark.catalog.tableExists(self.ts_tbl)
        specs = {
            self.sig_tbl: ("signatures", [self.id_col], True),
            self.bucket_tbl: ("buckets", ["band", "band_hash"], False),
        }
        for tbl, (name, keys, sort) in specs.items():
            if not self.spark.catalog.tableExists(tbl):
                counts[name] = 0
                continue
            tmp = f"{tbl}__compact"
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            # dropDuplicates(): fold out replay-appended identical rows
            # (see the parquet layout's compact for the contract)
            kept = self._minus_ts(self.spark.table(tbl)).dropDuplicates()
            w = kept.write.mode("overwrite").format("parquet").bucketBy(
                self.n_buckets, *keys
            )
            if sort:
                w = w.sortBy(*keys)
            w.saveAsTable(tmp)
            counts[name] = self.spark.table(tmp).count()
            # swap: drop + rename. A crash between the two is repaired by
            # _recover() on the next open (promotes the completed
            # __compact staging table), matching the parquet layout.
            self.spark.sql(f"DROP TABLE {tbl}")
            self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {tbl}")
        if has_ts:
            self.spark.sql(f"DROP TABLE {self.ts_tbl}")
        return counts


def _mh_store(spark, index_path: str, storage: str, id_col: str, n_buckets: int):
    if storage == "parquet":
        return _ParquetMinhashStore(spark, index_path, id_col)
    if storage == "bucketed":
        return _BucketedMinhashStore(spark, index_path, id_col, n_buckets)
    raise ValueError(f"unknown storage {storage!r}; 'parquet' or 'bucketed'")


# ---------------------------------------------------------------------------
# Index deletions: tombstones + compaction (the GDPR/right-to-forget path)
# ---------------------------------------------------------------------------


def purge_minhash_index(
    ids: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    storage: str = "parquet",
    n_buckets: int = 64,
) -> None:
    """Mark documents as deleted from an :func:`incremental_minhash`
    index WITHOUT touching the index data: the ids are appended to a
    tombstone table, and every subsequent match excludes them. Cost is
    O(ids appended), never O(history) — the deletion request pattern
    (takedowns, right-to-forget) must not require rewriting a
    billion-document signature store on every request. ``storage`` must
    match how the index was written.

    Contract: a purged id is gone from matching until
    :func:`compact_minhash_index` folds the tombstones in — including
    any NEW signatures appended under the same id after the purge
    (the anti-join is by id). Re-ingesting a previously purged id
    therefore requires a compaction first (or a fresh id). Tombstones
    accumulate one tiny row per purged id; compaction clears them.
    """
    store = _mh_store(ids.sparkSession, index_path, storage, id_col, n_buckets)
    store.append_tombstones(ids.select(F.col(id_col)).distinct())


def compact_minhash_index(
    spark,
    index_path: str,
    id_col: str = "doc_id",
    storage: str = "parquet",
    n_buckets: int = 64,
) -> dict[str, int]:
    """Fold accumulated tombstones into the index: rewrite signatures
    and buckets minus the purged ids, then drop the tombstone table.
    One anti-join scan of the (text-free) index per table — the
    periodic-maintenance job, NOT the per-request path.

    The parquet layout compacts each table with
    :func:`blueetl_spark.plans.atomic.compact_dir` and publishes with
    :func:`blueetl_spark.plans.atomic.swap_dir`: temp write → rename
    current to backup → rename temp in → delete backup; renames are
    atomic per step, so a crash leaves a recoverable backup, never a
    half-written current. The bucketed layout rewrites into a
    ``__compact`` table (same bucket spec) and swaps via DROP + RENAME —
    a crash between the two leaves the ``__compact`` table intact, and
    the next open of the index promotes it. Either layout repairs an
    interrupted swap on its next read, append or compaction, and drops
    the tombstones only after every table is swapped. Single-maintainer
    semantics either way (same contract as the index's appends).
    Returns per-table row counts after compaction.
    """
    return _mh_store(spark, index_path, storage, id_col, n_buckets).compact()


def purge_exact_index(
    remove_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Remove documents' digests from an :func:`incremental_exact`
    index so identical content can be ingested again (takedown +
    re-crawl). The exact index stores ONLY 16-byte digests, so the
    purge must be given the documents (or at least their text) to know
    which digests to drop; it rewrites the digest table minus those
    fingerprints and publishes with the same temp-write → backup-rename
    → publish swap (:func:`blueetl_spark.plans.atomic.swap_dir`) as
    :func:`compact_minhash_index`. Cost is one anti-join scan
    of the digest table (digests, never text) — run it batched, not
    per request; until it runs, the content stays deduped-out, which is
    the safe failure direction for a dedup index. Returns the digest
    count after the rewrite."""
    spark = remove_docs.sparkSession
    atomic.recover_dir(spark, index_path)
    if not atomic.fs_exists(spark, index_path):
        return 0
    gone = fingerprint(remove_docs, text_col, id_col).select("fingerprint").distinct()
    kept = spark.read.parquet(index_path).join(gone, "fingerprint", "left_anti")
    tmp = f"{index_path}.compact-tmp"
    kept.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    atomic.swap_dir(spark, index_path, tmp)
    return n
