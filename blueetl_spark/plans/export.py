"""Training-corpus export: deterministic shards + a verifiable manifest.

The last mile of a curation pipeline is handing the corpus to a trainer:
fixed-count shards a data loader can map to workers, stable shard
membership across re-runs (resumable exports, reproducible ablations),
and a manifest that lets the consumer verify completeness without
trusting the producer's logs.

Design:

- **Deterministic sharding**: ``shard = pmod(xxhash64(id), n_shards)`` —
  membership depends only on the id and shard count, never on partition
  layout or execution order. Re-running the export after adding documents
  moves nothing that was already placed.
- **One file per shard**: ``repartition(shard)`` then ``partitionBy``
  keeps each shard in exactly one task → one parquet file under
  ``shard=<k>/`` (the same shard-shape fix as the IVF-PQ codes write).
  Rows within a shard are sorted by id, so shard files are byte-stable.
- **Order-independent checksum**: per shard, ``sum(xxhash64(id, token
  payload hash))`` over rows (wrap-around sum in unsigned 64 space via
  decimal accumulation) — any lost, duplicated, or altered row changes
  it, and the consumer can recompute it with one scan in any engine that
  has xxhash64.
- The manifest (JSON beside the data) records per-shard and global row /
  token counts and checksums. ``verify_export`` recomputes from the
  written files and diffs.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blueetl_spark.plans.atomic import fs_path


def _row_check(id_col: str, payload_cols: list[str]):
    """Per-row 64-bit digest: id + every payload column.

    Nulls are disambiguated by hashing an explicit is-null flag per
    column alongside the value — a coalesce-to-sentinel scheme would make
    NULL and the literal sentinel string hash identically, hiding exactly
    the NULL-corruption class the checksum exists to catch."""
    cols = [F.col(id_col).cast("string")]
    for c in payload_cols:
        cols.append(F.col(c).isNull().cast("string"))
        cols.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
    return F.xxhash64(*cols)


def _write_text(spark: SparkSession, dir_path: str, name: str, text: str) -> None:
    # manifest I/O goes through the same Hadoop filesystem layer as the
    # data write, or any non-local target (s3a://, hdfs://) dies AFTER
    # the expensive parquet write when local pathlib can't resolve it
    fs, p = fs_path(spark, f"{dir_path}/{name}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, dir_path: str, name: str) -> str:
    fs, p = fs_path(spark, f"{dir_path}/{name}")
    inp = fs.open(p)
    try:
        # read JVM-side: a java read(byte[]) fills the JAVA copy of the
        # buffer — py4j passes arrays by value, so a python-side loop
        # silently reads nothing
        return spark._jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
    finally:
        inp.close()


def export_corpus(
    df: DataFrame,
    path: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    payload_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` deterministic parquet shards under
    ``path`` plus a ``_manifest.json`` (the underscore keeps it out of Spark directory scans); returns the manifest.

    ``payload_cols`` (default: every column except the id) feed the
    per-row digest — include exactly the columns the consumer reads, so
    the checksum certifies what training will actually see.
    """
    if "shard" in df.columns:
        raise ValueError(
            "export_corpus writes its own 'shard' partition column; the "
            "input already has one — rename it first (silently clobbering "
            "it would corrupt the corpus while the manifest certifies the "
            "corrupted values)"
        )
    payload_cols = (
        [c for c in df.columns if c != id_col]
        if payload_cols is None
        else list(payload_cols)
    )
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    out = (
        df.withColumn("shard", shard)
        .repartition("shard")
        .sortWithinPartitions(id_col)
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(path)
    manifest = _summarize(
        df.sparkSession, path, n_shards, id_col, token_count_col, payload_cols
    )
    _write_text(df.sparkSession, path, "_manifest.json", json.dumps(manifest, indent=2))
    return manifest


def _summarize(
    spark: SparkSession,
    path: str,
    n_shards: int,
    id_col: str,
    token_count_col: str | None,
    payload_cols: list[str],
) -> dict:
    df = spark.read.parquet(path)
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        # decimal accumulation: exact sum of 2^63-scale terms without
        # ANSI overflow; the checksum is the sum mod nothing — consumers
        # compare the full decimal string
        F.sum(_row_check(id_col, payload_cols).cast("decimal(38,0)"))
        .cast("string")
        .alias("checksum"),
    ]
    if token_count_col:
        aggs.append(F.sum(token_count_col).cast("long").alias("tokens"))
    per_shard = {
        int(r["shard"]): {k: r[k] for k in r.asDict() if k != "shard"}
        for r in df.groupBy("shard").agg(*aggs).collect()
    }
    empty = {"rows": 0, "checksum": "0"}
    if token_count_col:
        empty["tokens"] = 0  # keep shard entries un-ragged for consumers
    shards = [per_shard.get(i, dict(empty)) for i in range(n_shards)]
    total = {
        "rows": sum(s["rows"] for s in shards),
        "checksum": str(sum(int(s["checksum"] or 0) for s in shards)),
    }
    if token_count_col:
        total["tokens"] = sum(s.get("tokens") or 0 for s in shards)
    return {
        "n_shards": n_shards,
        "id_col": id_col,
        "payload_cols": payload_cols,
        "token_count_col": token_count_col,
        "shards": shards,
        "total": total,
    }


def verify_export(spark: SparkSession, path: str) -> dict:
    """Recompute the manifest from the written files and diff against the
    stored one. Returns {"ok": bool, "mismatches": [shard indices]}."""
    stored = json.loads(_read_text(spark, path, "_manifest.json"))
    # a verifier must see the files as they are NOW — Spark caches
    # directory listings per path and would otherwise re-read (or fail
    # on) the export-time file set
    spark.catalog.refreshByPath(path)
    actual = _summarize(
        spark,
        path,
        stored["n_shards"],
        stored["id_col"],
        stored.get("token_count_col"),
        stored["payload_cols"],
    )
    mismatches = [
        i
        for i, (a, b) in enumerate(zip(stored["shards"], actual["shards"]))
        if a != b
    ]
    return {"ok": not mismatches and stored["total"] == actual["total"],
            "mismatches": mismatches}
