"""Crash-safe lifecycle of the persisted parquet indexes.

Every persisted index — the incremental dedup indexes
(``operators/dedup.py``), the IVF and IVF-PQ indexes
(``operators/similarity.py``, ``operators/pq.py``) and the inverted
index (``operators/invindex.py``) — runs the same lifecycle, and this
module holds each step of it once; an index module states only its
layout:

- **purge**: append the purged ids to a ``tombstones.parquet`` dir —
  O(ids), the index data is never touched;
- **read**: :func:`without_tombstones` anti-joins a data dir's rows
  against the purged ids, so a purge takes effect at once;
- **compact**: :func:`compact_dir` rewrites a data dir minus tombstoned
  ids and duplicate rows (replayed at-least-once appends) into a staged
  ``.compact-<name>`` dir and publishes it with :func:`swap_dir`:
  temp-write → rename cur→cur.old → rename tmp→cur → delete cur.old.
  The caller drops the tombstones (:func:`delete_dir`) once EVERY data
  dir of the index is swapped, so a crash in between still reads
  correctly;
- **recover**: :func:`recover_dir` repairs a swap interrupted at either
  rename, so the dir is readable in the old or the new state, never
  neither. It is idempotent and metadata-only.

Recover-first rule: every entry point that reads, appends to, purges or
compacts a swapped dir calls :func:`recover_dir` on it BEFORE it touches
data. Recovery reads "cur and cur.old both present" as a finished swap
whose backup was not yet deleted. An append that skipped recovery after
a crash between the two renames would create a fresh ``cur`` next to the
backed-up history, and the next recovery would delete that history.

Hadoop ``FileSystem`` via py4j (NOT ``pathlib``/``os``): the paths may be
``hdfs://`` / ``s3a://`` URIs, and rename through the FileSystem API is
the closest-to-atomic publish each store offers. :func:`fs_path` is the
package's one resolver of such paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def fs_path(spark, path: str):
    """``(FileSystem, Path)`` of ``path`` through Hadoop: correct on every
    filesystem Spark can write to (hdfs://, s3a://, file:...), where a
    driver-local ``pathlib`` check is silently always-False."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark, path: str) -> bool:
    fs, p = fs_path(spark, path)
    return fs.exists(p)


def delete_dir(spark, path: str) -> None:
    fs, p = fs_path(spark, path)
    fs.delete(p, True)


def swap_dir(spark, cur: str, tmp: str) -> None:
    """Publish ``tmp`` as ``cur``: rename cur→cur.old, tmp→cur, drop the
    backup. A crash in between is repaired by :func:`recover_dir`."""
    fs, cur_p = fs_path(spark, cur)
    bak = fs_path(spark, cur + ".old")[1]
    if fs.exists(bak):
        fs.delete(bak, True)
    if not fs.rename(cur_p, bak):
        raise IOError(f"swap: rename {cur} -> {cur}.old failed")
    if not fs.rename(fs_path(spark, tmp)[1], cur_p):
        raise IOError(f"swap: rename {tmp} -> {cur} failed")
    fs.delete(bak, True)


def recover_dir(spark, cur: str) -> None:
    """Repair a swap interrupted mid-publish: no ``cur`` but an intact
    ``cur.old`` → restore it; both present → the new state is live, drop
    the stale backup."""
    fs, cur_p = fs_path(spark, cur)
    bak = fs_path(spark, cur + ".old")[1]
    if fs.exists(bak):
        if not fs.exists(cur_p):
            if not fs.rename(bak, cur_p):
                raise IOError(f"recovery: restore {cur}.old -> {cur} failed")
        else:
            fs.delete(bak, True)


def without_tombstones(df: DataFrame, ts_dir: str, key: str) -> DataFrame:
    """``df`` minus the rows whose ``key`` was purged into ``ts_dir``."""
    spark = df.sparkSession
    if not fs_exists(spark, ts_dir):
        return df
    return df.join(spark.read.parquet(ts_dir).select(key), key, "left_anti")


def compact_dir(spark, data_dir: str, ts_dir: str, key: str, unique, write) -> int:
    """Rewrite ``data_dir`` minus the ids tombstoned in ``ts_dir`` and
    minus duplicate rows (one row per ``unique`` columns; ``None`` = full
    row), staged as ``.compact-<name>`` next to it by ``write(df, dest)``
    and published with :func:`swap_dir`. Always rewrites: that is what a
    compaction is. The tombstones stay; the caller deletes them after
    its last swap. Returns the surviving row count, observed on the
    staging write itself (no re-read)."""
    recover_dir(spark, data_dir)
    parent, name = data_dir.rstrip("/").rsplit("/", 1)
    tmp = f"{parent}/.compact-{name}"
    kept = without_tombstones(spark.read.parquet(data_dir), ts_dir, key)
    obs = Observation("compact")
    write(kept.dropDuplicates(unique).observe(obs, F.count(F.lit(1)).alias("n")), tmp)
    n = obs.get["n"]
    swap_dir(spark, data_dir, tmp)
    return n
