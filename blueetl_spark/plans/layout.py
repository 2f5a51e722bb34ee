"""Z-order (Morton-curve) data layout: multi-column pruning at write time.

Parquet skipping works off per-file / per-row-group min-max statistics.
A table sorted on one column prunes beautifully on that column and not at
all on any other; at 100 TB, queries that filter on *either* of two keys
(``report_extract`` by time, per-gid features by gid) can't both win from
a single linear sort. Interleaving the bits of the clustering columns
into one Morton key and range-partitioning + sorting on it gives every
file a tight bounding box in **all** clustered dimensions — each
dimension's min-max stays narrow, so single-column predicates on any of
them skip most files (the same trick as Delta Lake's ``OPTIMIZE ZORDER
BY`` / the classic UB-tree layout, done here with plain DataFrame ops).

Mechanics, all JVM-side built-ins:

1. Per column, map values to a ``bits``-wide integer rank. Numeric
   columns scale linearly between the column min/max (one tiny agg to
   fetch the bounds); pre-computed integer ranks can be passed through
   as-is. Linear scaling keeps the map order-preserving, which is all
   Morton needs.
2. Interleave bits round-robin (MSB first) into one ≤63-bit key. The
   interleave is a flat ``concat_ws`` of '0'/'1' chars + one signed
   base-2 ``conv`` — the same shallow-expression shape as ``simhash``
   (a nested shift/or fold costs seconds of codegen at 64 bits).
3. ``repartitionByRange`` on the key (range boundaries from a sampled
   sketch — this is the only exchange) then ``sortWithinPartitions`` and
   write: one file ≈ one compact Z-range ≈ one small hyper-rectangle.

Verification is empirical and engine-independent: tests read back the
per-file min-max of each clustered column and assert a point-range
predicate on ANY single clustered column intersects only a small
fraction of files, while a linear sort on the first column fails that
bound on the second (``tests/test_layout.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blueetl_spark.plans.atomic import fs_path

MAX_KEY_BITS = 63  # signed-long key; conv(..., 2, -10) semantics


_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")

QUANTILE_MAX_BITS = 12  # boundary list is driver-side: 2^bits doubles


def _numeric_exprs(df: DataFrame, cols: list[str]) -> list[Column]:
    """Order-preserving double expression per column; temporal columns are
    converted (date → day number, timestamp → epoch micros) rather than
    cast — DATE/TIMESTAMP cannot cast to DOUBLE and approxQuantile
    rejects them. Anything else fails loudly: a silent cast-to-NULL would
    quietly disable pruning on that dimension."""
    types = dict(df.dtypes)
    out = []
    for c in cols:
        if c not in types:
            raise ValueError(f"unknown column {c!r}")
        t = types[c]
        if t in _NUMERIC_TYPES or t.startswith("decimal"):
            out.append(F.col(c).cast("double"))
        elif t == "date":
            out.append(F.unix_date(F.col(c)).cast("double"))
        elif t.startswith("timestamp"):
            out.append(F.unix_micros(F.col(c).cast("timestamp")).cast("double"))
        else:
            raise ValueError(
                f"zorder column {c!r} has type {t} — the rank map needs a "
                f"numeric or temporal column"
            )
    return out


def _rank_columns(
    df: DataFrame, cols: list[str], bits: int, mode: str
) -> list[Column]:
    """Order-preserving maps of each column onto [0, 2^bits).

    ``linear`` scales between min and max — right for roughly uniform
    columns, and the cheapest. ``quantile`` buckets by approximate
    equi-depth boundaries instead: on skewed columns (ids with hot
    ranges, heavy-tailed values) linear scaling collapses most rows into
    a few rank values and the curve degenerates to a linear sort on the
    other columns. All columns' statistics come from ONE pass over the
    input (a single multi-aggregate / one multi-column ``approxQuantile``
    call) — per-column driver actions would re-scan a 100 TB input once
    per clustered dimension.
    """
    exprs = _numeric_exprs(df, cols)
    if mode == "quantile":
        n_buckets = 1 << bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        proj_names = [f"__zq{i}" for i in range(len(cols))]
        all_cuts = df.select(
            *[e.alias(n) for e, n in zip(exprs, proj_names)]
        ).stat.approxQuantile(proj_names, probs, 0.25 / n_buckets)
        # still one job for every column (multi-column sketch)
        ranks = []
        for e, cuts in zip(exprs, all_cuts):
            # strictly increasing boundaries; duplicates (heavy hitters)
            # merge. Rescale to fill the full bit width — merged
            # boundaries would otherwise leave the high bits constantly 0
            # and the interleave degenerates (integer scaling preserves
            # order).
            uniq = sorted({x for x in cuts if x is not None})
            if not uniq:
                ranks.append(F.lit(0).cast("long"))
                continue
            arr = F.array(*[F.lit(float(x)) for x in uniq])
            scale = (1 << bits) // (len(uniq) + 1)
            rank = F.size(F.filter(arr, lambda b: b <= e)).cast("long")
            ranks.append(rank * F.lit(max(scale, 1)).cast("long"))
        return ranks
    if mode != "linear":
        raise ValueError(f"unknown rank mode {mode!r}")
    aggs = []
    for e in exprs:
        aggs += [F.min(e), F.max(e)]
    stats = df.agg(*aggs).first()  # one job for every column
    top = (1 << bits) - 1
    ranks = []
    for i, e in enumerate(exprs):
        lo, hi = stats[2 * i], stats[2 * i + 1]
        if lo is None or hi is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        span = hi - lo
        ranks.append(
            F.least(
                F.lit(top).cast("long"),
                F.floor((e - F.lit(lo)) / F.lit(span) * (top + 1)),
            ).cast("long")
        )
    return ranks


def zorder_key(
    df: DataFrame, cols: list[str], bits: int | None = None, mode: str = "linear"
) -> Column:
    """Morton key column interleaving ``cols`` (MSB-first, round-robin).

    ``bits`` is the per-column rank width; default spends the whole
    63-bit budget evenly (2 cols → 31 bits each, 3 → 21, 4 → 15), capped
    at 12 in quantile mode (boundary list is driver-side).
    ``mode`` picks the rank map per column — see :func:`_rank_columns`.
    """
    if not 2 <= len(cols) <= 6:
        raise ValueError("zorder_key interleaves 2-6 columns")
    if bits is None:
        bits = MAX_KEY_BITS // len(cols)
        if mode == "quantile":
            bits = min(bits, QUANTILE_MAX_BITS)
    if bits * len(cols) > MAX_KEY_BITS:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits = {bits * len(cols)} exceeds the "
            f"{MAX_KEY_BITS}-bit key budget"
        )
    if mode == "quantile" and bits > QUANTILE_MAX_BITS:
        raise ValueError(
            f"quantile mode caps bits at {QUANTILE_MAX_BITS} (the boundary "
            f"list is driver-side, 2^bits doubles per column); got {bits}"
        )
    ranks = _rank_columns(df, cols, bits, mode)
    chars = []
    for i in range(bits - 1, -1, -1):  # MSB first
        for r in ranks:
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            chars.append(F.when(bit == 1, "1").otherwise("0"))
    return F.conv(F.concat_ws("", *chars), 2, -10).cast("long")


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int | None = None,
    mode: str = "linear",
) -> None:
    """Write ``df`` as parquet laid out along the Z-curve of ``cols``.

    One range exchange on the Morton key (boundaries come from Spark's
    reservoir sample of the key), an in-partition sort, and a plain
    parquet write — each output file covers a compact Z-range, i.e. a
    small bounding box in every clustered dimension. The key column is
    dropped before writing; it is derivable, not data.

    Sizing: ``n_files`` plays the role of target file count — at scale
    pick it so files land at a few hundred MB, same rule as compaction.
    """
    key = zorder_key(df, cols, bits, mode)
    (
        df.withColumn("__z", key)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 256 << 20,
    zorder_cols: list[str] | None = None,
    mode: str = "linear",
) -> dict:
    """Rewrite a parquet directory into files near ``target_file_bytes``.

    Small-file sprawl is the chronic failure mode of incremental writes
    (every micro-batch / task / cell adds shards): listing cost grows
    linearly with file count, row-group stats fragment, and scan tasks
    go sub-MB. Compaction is the standing repair: one pass that sizes
    output files from the measured input bytes. With ``zorder_cols`` the
    rewrite also re-clusters along the Z-curve (compaction is the
    natural moment to fix layout — the data is being rewritten anyway).

    ``out_path`` must differ from ``path``: Spark cannot overwrite a
    directory it is reading, and the swap-into-place step belongs to the
    table format / catalog layer (Delta/Iceberg do it transactionally).

    Returns {"in_files", "in_bytes", "out_files"}.
    """
    def qualified(p: str):
        fs, hp = fs_path(spark, p)
        return fs.makeQualified(hp)

    # compare FILESYSTEM-qualified paths, not strings: 'dir' vs 'dir/'
    # vs 'file:/abs/dir' all name the same directory, and an in-place
    # overwrite DELETES THE INPUT before the rewrite commits
    if str(qualified(out_path)) == str(qualified(path)):
        raise ValueError(
            "compact cannot rewrite in place — Spark would overwrite its "
            "own input mid-scan; write to out_path and swap at the "
            "catalog/table-format layer"
        )

    def data_files(p: str) -> tuple[int, int]:
        """(count, bytes) of data files (markers like _SUCCESS excluded),
        recursing into partition directories."""
        fs, hpath = fs_path(spark, p)
        it = fs.listFiles(hpath, True)
        n = b = 0
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            n += 1
            b += st.getLen()
        return n, b

    in_files, in_bytes = data_files(path)
    n_files = max(1, int(in_bytes // target_file_bytes) + (
        1 if in_bytes % target_file_bytes else 0
    ))
    df = spark.read.parquet(path)
    if zorder_cols:
        zorder_write(df, out_path, zorder_cols, n_files=n_files, mode=mode)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    out_files, _ = data_files(out_path)
    return {
        "in_files": in_files,
        "in_bytes": in_bytes,
        "out_files": out_files,
    }


def file_bounds(df_reader, path: str, cols: list[str]) -> DataFrame:
    """Per-file min-max of ``cols`` for a parquet directory — the layout
    quality metric (how tight each file's bounding box is). Used by the
    layout tests; at ops time the same query answers 'would a predicate
    on X prune?' without touching engine internals."""
    df = df_reader.parquet(path).withColumn("__file", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy("__file").agg(*aggs)
