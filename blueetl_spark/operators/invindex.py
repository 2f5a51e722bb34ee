"""Persisted positional inverted index + phrase search.

The scan path (``text.phrase_count``) re-reads the corpus per query —
right for one-off greps, wrong for a query workload against a static
100 TB corpus.  This module builds the classic IR structure once:

- ``build_inverted_index``: posting rows ``(token, doc_id, pos)``
  written as parquet **sorted by token within each output file**, so a
  phrase probe's ``token IN (...)`` filter rides parquet min/max row-
  group pruning and dictionary pushdown — the query reads only the
  row groups containing its tokens, never the whole index.  A
  ``_df.parquet`` side table stores per-token document frequencies for
  planning.
- ``phrase_search``: consecutive-token match via posting-list joins.
  The **rarest phrase token anchors the plan** (df table consulted
  first): its postings — the smallest set — are joined against each
  other token's postings on ``(doc_id, pos ± offset)``, so intermediate
  cardinality starts minimal and only shrinks.  Equi-joins throughout;
  with a broadcast-sized anchor the whole probe is map-only against
  the pruned index scan.

Counts match ``text.phrase_count`` exactly (overlapping starts
included) — pinned by tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blueetl_spark.operators.text import tokens
from blueetl_spark.plans import atomic


def _postings(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    ).filter(F.col("token") != "")


def _write_postings(posting: DataFrame, dest: str, n_files: int, mode: str) -> None:
    (
        posting.repartition(n_files, "token")
        .sortWithinPartitions("token", "doc_id", "pos")
        .write.mode(mode)
        .parquet(dest)
    )


def build_inverted_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = 32,
) -> None:
    """Write the positional posting table and its document-frequency
    side table under ``path``.

    Postings are repartitioned on ``token`` (co-locates each token's
    postings for one-file reads) and sorted by ``(token, doc_id, pos)``
    within partitions — the sort is what makes min/max row-group
    pruning selective for token probes.
    """
    _write_postings(
        _postings(df, text_col, id_col), f"{path}/postings.parquet", n_files,
        "overwrite",
    )
    spark = df.sparkSession
    dfreq = (
        spark.read.parquet(f"{path}/postings.parquet")
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("tf"),
        )
    )
    dfreq.repartition(1).write.mode("overwrite").parquet(f"{path}/_df.parquet")


def append_inverted_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_files: int = 8,
) -> int:
    """Incremental ingest: append the batch's postings plus a per-batch
    ``(token, df, tf)`` DELTA to the frequency side table — summable
    because append-only corpora put each document in exactly one batch,
    so history is never re-read or rewritten.  Replayed at-least-once
    appends duplicate posting rows; :func:`phrase_search` folds them out
    per probe and :func:`compact_inverted_index` folds them out of the
    layout.  Returns the number of posting rows appended."""
    from pyspark.sql import Observation

    atomic.recover_dir(new_docs.sparkSession, f"{path}/postings.parquet")
    # Pin the batch's postings ONCE (eager): both the observed append and
    # the (token, df, tf) delta derive from this single materialized frame,
    # so a non-deterministic source (sample/limit) cannot make the delta
    # disagree with the postings actually written, and the tokenize/explode
    # cost is paid once per batch instead of twice.
    posting = _postings(new_docs, text_col, id_col).localCheckpoint(eager=True)
    obs = Observation("inv_append")
    _write_postings(
        posting.observe(obs, F.count(F.lit(1)).alias("n")),
        f"{path}/postings.parquet",
        n_files,
        "append",
    )
    delta = (
        posting.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("tf"))
    )
    delta.repartition(1).write.mode("append").parquet(f"{path}/_df.parquet")
    return obs.get["n"]


def purge_inverted_index(ids: DataFrame, path: str, id_col: str = "doc_id") -> None:
    """Tombstone documents without touching the posting layout: O(ids)
    per request; every subsequent :func:`phrase_search` excludes them,
    and :func:`compact_inverted_index` folds them out for real."""
    ids.select(F.col(id_col).alias("doc_id")).distinct().write.mode(
        "append"
    ).parquet(f"{path}/tombstones.parquet")


def compact_inverted_index(spark: SparkSession, path: str, n_files: int = 32) -> int:
    """Rewrite the postings minus tombstoned docs, one row per
    ``(doc_id, pos)`` (replayed appends are full-row identical), via the
    crash-safe staged swap, then rebuild the frequency side table
    EXACTLY and drop the tombstones.  A crash after the postings swap
    but before the side-table rewrite leaves ``_df`` stale — a planning
    aid only (anchor choice), never a correctness input, since
    :func:`phrase_search` counts from postings.  Returns the surviving
    posting-row count."""
    post_dir = f"{path}/postings.parquet"
    ts_dir = f"{path}/tombstones.parquet"
    has_ts = atomic.fs_exists(spark, ts_dir)
    n = atomic.compact_dir(
        spark, post_dir, ts_dir, "doc_id", ["doc_id", "pos"],
        lambda df, dest: _write_postings(df, dest, n_files, "overwrite"),
    )
    dfreq = (
        spark.read.parquet(post_dir)
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("tf"))
    )
    dfreq.repartition(1).write.mode("overwrite").parquet(f"{path}/_df.parquet")
    if has_ts:
        atomic.delete_dir(spark, ts_dir)
    return n


def phrase_search(
    spark: SparkSession,
    path: str,
    phrase: str,
) -> DataFrame:
    """Documents containing the token phrase, with occurrence counts:
    ``(doc_id, n_occ)`` — exactly ``text.phrase_count``'s result, read
    from the persisted index instead of the corpus.

    The probe reads postings with ``token IN (phrase tokens)`` (pushed
    to the parquet scan), anchors on the rarest token, and verifies
    adjacency with one equi-join per remaining distinct token on
    ``(doc_id, anchor_pos)`` — a phrase occurrence at anchor position
    ``p`` requires token ``j`` at ``p + (j - anchor_offset)``.
    """
    p_toks = phrase.split()
    if not p_toks:
        raise ValueError("empty phrase")
    atomic.recover_dir(spark, f"{path}/postings.parquet")
    post = spark.read.parquet(f"{path}/postings.parquet")
    dfreq = spark.read.parquet(f"{path}/_df.parquet")
    # the side table may hold per-batch deltas (append_inverted_index);
    # tf sums exactly across batches of an append-only corpus.  _df is a
    # PLANNING AID ONLY (anchor choice) — a crash between the postings
    # append and the _df delta write leaves postings containing tokens
    # _df lacks, so a token missing here must NOT imply an empty result:
    # the adjacency join chain below yields empty anyway when a token is
    # genuinely absent from postings (its probe side is empty).
    freqs = {
        r["token"]: r["tf"]
        for r in dfreq.filter(F.col("token").isin(p_toks))
        .groupBy("token")
        .agg(F.sum("tf").alias("tf"))
        .collect()
    }
    # anchor = offset of the rarest token among those _df knows about;
    # tokens absent from _df are never anchored (their true frequency is
    # unknown — possibly large) but still verified via their join leg
    known = [j for j in range(len(p_toks)) if p_toks[j] in freqs]
    anchor = min(known, key=lambda j: freqs[p_toks[j]]) if known else 0
    # replayed at-least-once appends duplicate posting rows; fold them
    # out on the natural key before any adjacency join double-counts
    probe = atomic.without_tombstones(
        post.filter(F.col("token").isin(list(set(p_toks)))).dropDuplicates(
            ["doc_id", "pos"]
        ),
        f"{path}/tombstones.parquet",
        "doc_id",
    )
    cur = (
        probe.filter(F.col("token") == p_toks[anchor])
        .select("doc_id", (F.col("pos") - anchor).alias("__start"))
    )
    # one equi-join per remaining phrase offset; posting rows are unique
    # on (doc_id, pos), so each inner join can only shrink cardinality
    for j, tok in enumerate(p_toks):
        if j == anchor:
            continue
        side = probe.filter(F.col("token") == tok).select(
            F.col("doc_id"), (F.col("pos") - j).alias("__start")
        )
        cur = cur.join(side, ["doc_id", "__start"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count("*").alias("n_occ"))
        .select("doc_id", F.col("n_occ").cast("long").alias("n_occ"))
    )
