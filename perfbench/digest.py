"""Order-insensitive, Spark-side result digests.

A frame's digest is ``(rows, sum of xxhash64 over the row)``. Doubles are
rounded first so that a different summation order upstream does not change
it. The sum is a ``decimal(38,0)``, so it is exact and additive: the digest
of a union of disjoint row sets is the sum of their digests, which lets a
per-simulation reference stand for any simulation subset. All frames of
one call are digested in a single aggregation; only the aggregate rows
reach the driver, never the frames.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: decimals kept for floating-point columns
ROUND_DIGITS = 5

Digest = tuple[int, int]


def _hash(df: DataFrame) -> Column:
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, ROUND_DIGITS)
        cols.append(c)
    return F.xxhash64(*cols).cast("decimal(38,0)")


def digest_frames(
    frames: dict[str, DataFrame], by: str | None = None
) -> dict[str, Digest] | dict[str, dict[int | None, Digest]]:
    """Digest every frame in one job.

    Without ``by``: ``{name: (rows, hash sum)}`` (``(0, 0)`` for an empty
    frame). With ``by``: ``{name: {key: digest}}`` for frames that have
    the ``by`` column, and ``{name: {None: digest}}`` for frames that
    do not.
    """
    parts = [
        df.select(
            F.lit(name).alias("t"),
            (F.col(by).cast("long") if by and by in df.columns
             else F.lit(None).cast("long")).alias("k"),
            _hash(df).alias("h"),
        )
        for name, df in frames.items()
    ]
    rows = (
        reduce(DataFrame.unionAll, parts)
        .groupBy("t", "k")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum("h").alias("hsum"))
        .collect()
    )
    per: dict[str, dict[int | None, Digest]] = {name: {} for name in frames}
    for r in rows:
        per[r["t"]][r["k"]] = (int(r["rows"]), int(r["hsum"]))
    if by:
        return per
    return {name: combine(list(d.values())) for name, d in per.items()}


def digest(df: DataFrame) -> Digest:
    """``(rows, hash sum)`` of one frame."""
    return digest_frames({"df": df})["df"]


def combine(parts: list[Digest]) -> Digest:
    """Digest of the union of disjoint row sets."""
    return sum(p[0] for p in parts), sum(p[1] for p in parts)


def select(per_key: dict[int | None, Digest], keys: list[int]) -> Digest:
    """Digest of the rows whose key is in ``keys`` (all rows for a frame
    digested without the key column)."""
    if None in per_key:
        return per_key[None]
    return combine([per_key[k] for k in keys if k in per_key])
