"""Structured Streaming counterparts of the batch window operators.

The reference is batch-only; its ``n_trials × trial_steps_value`` windows
are the at-rest equivalent of tumbling/hopping windows (SURVEY §2.5). This
module provides the streaming versions so the same analytics run on live
event feeds: tumbling/sliding rate aggregation with watermarked late-data
handling, session windows, and a stateful per-entity spike counter via
``applyInPandasWithState``.

For local tests a directory of parquet files drives the stream
(``readStream.format("parquet")``); production swaps in kafka without
touching the transformations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("neuron_class", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def read_event_stream(spark, path: str, schema: T.StructType = EVENT_SCHEMA) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 8)
        .load(path)
    )


def windowed_rates(
    events: DataFrame,
    window: str = "10 seconds",
    slide: str | None = None,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Tumbling (or hopping, when ``slide`` differs) per-class event rates
    with a watermark bounding state for late data."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "neuron_class")
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("mean_value"))
        .select(
            F.col("w.start").alias("t_start"),
            F.col("w.end").alias("t_stop"),
            "neuron_class",
            "n_events",
            "mean_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 seconds", watermark: str = "60 seconds"
) -> DataFrame:
    """Per-gid session windows (burst detection): a session closes after
    ``gap`` of silence."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "gid")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("t_start"),
            F.col("s.end").alias("t_stop"),
            "gid",
            "n_events",
        )
    )


def stateful_spike_counter(
    events: DataFrame,
    rate_threshold: float = 10.0,
    watermark: str = "60 seconds",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-gid
    running spike count + burst flag.

    State per gid: (total_count, first_ts, last_ts). Each micro-batch
    folds its rows into the state and emits one row per updated gid with
    the running totals and whether the gid's lifetime rate exceeds
    ``rate_threshold`` events/s. State has no timeout — a production
    deployment bounding state size would set a TTL via
    ``GroupStateTimeout.EventTimeTimeout`` + the watermark.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("gid", T.LongType(), False),
            T.StructField("total_count", T.LongType(), False),
            T.StructField("first_ts", T.TimestampType(), True),
            T.StructField("last_ts", T.TimestampType(), True),
            T.StructField("is_burst", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("total_count", T.LongType(), False),
            T.StructField("first_ts_us", T.LongType(), False),
            T.StructField("last_ts_us", T.LongType(), False),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd  # noqa: PLC0415 - executor-side import

        (gid,) = key
        count, first_us, last_us = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("int64") // 1000
            count += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((count, first_us, last_us))
        # a burst needs an observed span: with first == last (single event,
        # or all events on one timestamp) the rate is undefined — a tiny
        # span floor would flag EVERY gid's first event as a burst
        span_s = (last_us - first_us) / 1e6
        yield pd.DataFrame(
            {
                "gid": [gid],
                "total_count": [count],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "is_burst": [span_s > 0 and count / span_s > rate_threshold],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("gid")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query to completion against the currently-available
    files and return the collected result (test/smoke harness)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    event_time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content fingerprint
    passes, later duplicates are dropped.

    The batch ``dedup_exact`` groups the whole corpus; a stream can't — so
    the same normalized-text fingerprint feeds
    ``dropDuplicatesWithinWatermark``, whose state store keeps one entry
    per fingerprint and the watermark bounds state size: a duplicate
    arriving within the watermark horizon of its original is dropped,
    state older than the horizon is evicted (the standard
    state-bounded trade: an exact global guarantee needs unbounded state;
    choose the horizon to cover the real duplicate inter-arrival window).
    All JVM-side — the fingerprint is the same md5-of-normalized-text
    expression the batch path uses.
    """
    from blueetl_spark.operators.text import normalized_text

    fp = F.md5(normalized_text(text_col))
    return (
        docs.withColumn("__fingerprint", fp)
        .withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["__fingerprint"])
        .drop("__fingerprint")
    )


def stream_stream_enrich(
    events: DataFrame,
    reference: DataFrame,
    by: str = "gid",
    lookback: str = "10 minutes",
    watermark: str = "10 minutes",
    ref_prefix: str = "ref_",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each event enriched with
    every ``reference`` event for the same key from the trailing
    ``lookback`` window (``ref.ts ∈ (ev.ts − lookback, ev.ts]`` — the
    streaming relative of the batch as-of/interval join).

    Both sides carry the ``watermark``; with the time-range condition
    Spark bounds the join state to watermark + lookback per side and
    evicts older rows — the state never grows with stream length
    (the 100 TB/day requirement for any continuous join).

    ``how``: ``"inner"`` drops events with no reference row in the
    window; ``"left_outer"`` keeps them with NULL reference columns —
    Spark emits the unmatched row only once the watermark passes the
    event (it must be sure no match can still arrive), so left-outer
    output lags by the watermark delay. That is the correct streaming
    trade, not a defect; for immediate NULL-backfill semantics use the
    batch as-of join.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer', got {how!r}")
    ref = reference.select(
        F.col(by).alias(f"{ref_prefix}{by}"),
        F.col("ts").alias(f"{ref_prefix}ts"),
        *[
            F.col(c).alias(f"{ref_prefix}{c}")
            for c in reference.columns
            if c not in (by, "ts")
        ],
    ).withWatermark(f"{ref_prefix}ts", watermark)
    ev = events.withWatermark("ts", watermark)
    cond = (
        (F.col(by) == F.col(f"{ref_prefix}{by}"))
        & (F.col(f"{ref_prefix}ts") <= F.col("ts"))
        & (F.col(f"{ref_prefix}ts") > F.col("ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return ev.join(ref, cond, how).drop(f"{ref_prefix}{by}")


def streaming_slice_events(
    events: DataFrame,
    windows: DataFrame,
    time_col: str = "time",
    join_keys: list[str] | None = None,
) -> DataFrame:
    """Streaming report extraction: the W2/J5 interval slice of a LIVE
    event stream against the (static, config-sized) windows table —
    each event lands in every (window, trial) whose
    ``[offset + t_start, offset + t_stop)`` interval contains it, with
    ``time`` re-based to the window frame.

    Stream-static joins are **stateless** in Structured Streaming: the
    static side is broadcast and each micro-batch joins map-side, so
    this runs with no state store, no watermark requirement, and
    unbounded stream length — the live-monitoring twin of
    :func:`blueetl_spark.operators.windows.slice_events` (which it
    reuses verbatim: that function is pure DataFrame algebra, equally
    valid on a streaming frame). Downstream aggregations decide their
    own output mode / watermarks.
    """
    from blueetl_spark.operators.windows import slice_events

    return slice_events(events, windows, time_col=time_col, join_keys=join_keys)


def _start_shard_stream(
    stream_df: DataFrame,
    shard: Callable[[DataFrame, str], DataFrame],
    shard_path: str,
    checkpoint: str,
    batch_prefix: str,
    trigger: dict | None,
):
    """Start the ``foreachBatch`` query shared by the shard writers: each
    non-empty micro-batch appends ``shard(batch_df, batch_id)`` to
    ``shard_path`` as one file, with ``batch_id`` =
    ``{batch_prefix}-{epoch_id}`` (a replayed epoch reuses its id, which
    is what the readers dedup on). Returns the started StreamingQuery."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = shard(batch_df, f"{batch_prefix}-{epoch_id}")
        out.coalesce(1).write.mode("append").parquet(shard_path)

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def streaming_profile_shards(
    stream_df: DataFrame,
    shard_path: str,
    checkpoint: str,
    columns: list[str] | None = None,
    lgk: int = 12,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Continuous table profiling: every micro-batch appends its
    mergeable profile rows (counts/sums/min-max/HLL binaries —
    ``operators/profile.py::profile_shard``) to the shard store, so a
    whole-stream profile is available at any moment via
    ``merge_profile_shards`` WITHOUT rescanning ingested data.

    ``foreachBatch`` is the right seam: the shard computation is a
    full-batch aggregate (not incremental per-key state), each batch's
    rows are immutable once appended (the shard-store contract), and
    state is ZERO — nothing carries between batches, the merge happens
    at read time.

    Delivery is **at-least-once, made effectively-once at merge time**:
    foreachBatch replays are NOT idempotent by themselves — if the
    driver dies after this blind append commits but before the
    checkpoint records the epoch, the restarted query re-runs the same
    epoch and appends a second, identical set of rows under the same
    ``stream-{epoch_id}`` batch_id. ``merge_profile_shards`` therefore
    dedups to one row per (column, batch_id) before folding
    (``operators/profile.py``), which is exactly sound because a
    replayed epoch recomputes the same input rows. Readers that fold
    shard rows by hand must apply the same dedup.

    Returns the started StreamingQuery; ``trigger`` passes through (e.g.
    ``{"availableNow": True}`` to drain a backlog and stop).
    """
    from blueetl_spark.operators.profile import profile_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: profile_shard(
            batch_df, batch_id, columns=columns, lgk=lgk
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_histogram_shards(
    stream_df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    shard_path: str,
    checkpoint: str,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Histogram twin of :func:`streaming_profile_shards`: each
    micro-batch appends ONE mergeable binned-count row
    (``operators/profile.py::histogram_shard``), so a whole-stream
    value distribution (and its quantile estimates) is readable at any
    moment from bytes-per-batch shards — never by rescanning the
    ingested data. Same foreachBatch seam, same zero cross-batch
    state, same at-least-once → effectively-once contract: a replayed
    epoch re-appends an identical row under the same batch_id and
    ``merge_histogram_shards`` dedups on batch_id before folding.
    """
    from blueetl_spark.operators.profile import histogram_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: histogram_shard(
            batch_df, value_col, lo, hi, n_bins, batch_id=batch_id
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_ohlc_shards(
    stream_df: DataFrame,
    time_col: str,
    value_col: str,
    bucket_width: float,
    shard_path: str,
    checkpoint: str,
    by: tuple = (),
    tie_col: str | None = None,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """OHLC twin of :func:`streaming_histogram_shards`: each micro-batch
    appends mergeable partial bars (``operators/timeseries.py::
    ohlc_shard`` — open/close carry their (time, tie) endpoint keys, so
    bars fold exactly in any order), and
    ``timeseries.merge_ohlc_shards`` reads whole-stream bars at any
    moment from shard rows bounded by batches × groups × buckets. Same
    foreachBatch seam, zero cross-batch state, and the at-least-once →
    effectively-once contract: a replayed epoch re-appends identical
    rows under the same batch_id, deduped before the fold.

    Shard-schema compatibility: every appended row carries
    ``__schema_version`` (``timeseries.OHLC_SHARD_SCHEMA_VERSION``),
    and ``merge_ohlc_shards`` REFUSES unmarked or mixed-version shard
    frames with an error naming the fix — so a dir that accumulated
    appends from an old build (v1 cast tie keys to double; v2 keeps
    the native type) fails loudly at merge time instead of silently
    mis-folding. On upgrade, re-shard from source or start a new
    ``shard_path``; the stream itself needs no checkpoint surgery.
    """
    from blueetl_spark.operators.timeseries import ohlc_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: ohlc_shard(
            batch_df, time_col, value_col, bucket_width, by=by,
            tie_col=tie_col, batch_id=batch_id,
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_cms_shards(
    stream_df: DataFrame,
    key_col: str,
    shard_path: str,
    checkpoint: str,
    width: int = 256,
    depth: int = 4,
    hash_fn: str = "xxhash64",
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Count-Min twin of :func:`streaming_histogram_shards`: each
    micro-batch appends its depth×width counter rows
    (``operators/profile.py::cms_shard``), and
    ``profile.merge_cms_shards`` + ``cms_estimate`` answer streaming
    point-frequency / heavy-hitter queries at any moment from shard
    rows bounded by batches × depth. Same foreachBatch seam, zero
    cross-batch state; a replayed epoch re-appends identical rows
    under the same batch_id, deduped before the fold (at-least-once →
    effectively-once).
    """
    from blueetl_spark.operators.profile import cms_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: cms_shard(
            batch_df, key_col, width, depth, batch_id=batch_id, hash_fn=hash_fn
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_hll_shards(
    stream_df: DataFrame,
    key_col: str,
    shard_path: str,
    checkpoint: str,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Count-distinct twin of :func:`streaming_cms_shards`: each
    micro-batch appends its ≤256 HyperLogLog register rows
    (``operators/profile.py::hll_shard`` — md5-derived, SQL-replayable,
    readable by any engine unlike DataSketches blobs), and
    ``profile.merge_hll_shards`` + ``hll_estimate`` answer "distinct
    keys so far" at any moment from shard rows bounded by batches ×
    256. Same foreachBatch seam, zero cross-batch state — and the
    merge is register-MAX, which is IDEMPOTENT: a replayed epoch's
    identical rows change nothing, so this twin needs no batch_id
    dedup at all (the strongest at-least-once story of the shard
    family).
    """
    from blueetl_spark.operators.profile import hll_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: hll_shard(
            batch_df, key_col, batch_id=batch_id
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_topk_shards(
    stream_df: DataFrame,
    key_col: str,
    shard_path: str,
    checkpoint: str,
    m: int = 64,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Heavy-hitters twin of :func:`streaming_cms_shards`: each
    micro-batch appends its ≤``m``-row exact top-m summary
    (``operators/profile.py::topk_shard`` — per-key count plus the
    shard's absence bound), and ``profile.merge_topk_shards`` answers
    "heaviest keys so far, with guaranteed count intervals" at any
    moment from shard rows bounded by batches × m. Same foreachBatch
    seam, zero cross-batch state; a replayed epoch re-appends identical
    rows under the same batch_id, deduped before the fold
    (at-least-once → effectively-once).
    """
    from blueetl_spark.operators.profile import topk_shard

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: topk_shard(
            batch_df, key_col, m=m, batch_id=batch_id
        ),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def streaming_psi_monitor(
    stream_df: DataFrame,
    ref_df: DataFrame,
    value_col: str,
    shard_path: str,
    checkpoint: str,
    by: tuple = (),
    buckets: int = 10,
    eps: float = 1e-6,
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Live drift monitor: every micro-batch is PSI-scored against a
    FIXED reference sample (``operators/timeseries.py::psi_drift``) and
    appends one ``(batch_id, by…, n_ref, n_new, psi)`` row per group —
    the model-monitoring timeline ("when did the feed drift, and for
    which segment") readable at any moment from rows bounded by
    batches × groups, never by rescanning the stream. Same foreachBatch
    seam and at-least-once → effectively-once contract as the other
    shard families: a replayed epoch recomputes the identical
    deterministic row under the same batch_id;
    :func:`read_psi_timeline` dedups on (batch_id, group) before use.

    The reference frame is persisted here and each batch's PSI job
    reuses the cached blocks; the reference EDGE computation replays
    per batch over that cache (distinct-value-sized work — pre-quantize
    a continuous reference upstream, same caveat as ``psi_drift``).
    Stop the query and ``ref_df.unpersist()`` when retiring the
    monitor, or re-baseline by starting a new monitor with a fresh
    reference and shard path.
    """
    from blueetl_spark.operators.timeseries import psi_drift

    ref = ref_df.persist()

    return _start_shard_stream(
        stream_df,
        lambda batch_df, batch_id: psi_drift(
            ref, batch_df, value_col, by=list(by), buckets=buckets, eps=eps
        ).withColumn("batch_id", F.lit(batch_id)),
        shard_path, checkpoint, batch_prefix, trigger,
    )


def read_psi_timeline(spark, shard_path: str, by: tuple = ()) -> DataFrame:
    """Read a :func:`streaming_psi_monitor` shard dir as the drift
    timeline: one row per (batch, group), crash-replayed duplicates
    folded out on (batch_id, group)."""
    return (
        spark.read.parquet(shard_path)
        .dropDuplicates(["batch_id", *by])
    )


def asof_enrich_static(
    events: DataFrame,
    dim: DataFrame,
    on: str = "ts",
    by: str = "gid",
    suffix: str = "_asof",
) -> DataFrame:
    """Stateless stream-static backward as-of: each event picks up the
    latest ``dim`` row with ``dim.on <= event.on`` for its key — the
    "config/model version in effect at event time" lookup, as a pure
    per-row function (works identically on a stream or a batch frame,
    in append mode, with zero streaming state).

    Scale contract: ``dim`` folds to ONE row per key (its history as a
    time-sorted array of structs) and broadcasts — sized for dimension
    tables (configs, model registries, price lists), NOT for a second
    event-scale table (use ``operators/timeseries.asof_join`` there;
    its shuffle needs a batch frame). The per-row probe is a JVM
    ``filter`` + ``element_at(-1)`` over the key's history — O(|hist|)
    per event, no Python, no shuffle on the stream side.

    Left-outer semantics: events before their key's first dim row (or
    with an unseen key) keep NULLs.
    """
    payload = [c for c in dim.columns if c not in (by, on)]
    hist = dim.groupBy(by).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(on).alias("__t"),
                    *[F.col(c) for c in payload],
                )
            )
        ).alias("__hist")
    )
    # try_element_at: an empty filtered history (event before the key's
    # first dim row) must yield NULL, not an index error
    probe = F.try_element_at(
        F.filter(
            F.col("__hist"), lambda x: x["__t"] <= F.col(on)
        ),
        F.lit(-1),
    )
    out = events.join(F.broadcast(hist), by, "left").withColumn("__m", probe)
    return out.select(
        *events.columns,
        F.col(f"__m.__t").alias(f"{on}{suffix}"),
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in payload],
    )


def streaming_jsd_monitor(
    stream_df: DataFrame,
    ref_df: DataFrame,
    key_col: str,
    shard_path: str,
    checkpoint: str,
    by: tuple = (),
    n_buckets: int = 256,
    hash_fn: str = "xxhash64",
    batch_prefix: str = "stream",
    trigger: dict | None = None,
):
    """Categorical twin of :func:`streaming_psi_monitor`: every
    micro-batch is Jensen–Shannon-scored against a FIXED reference
    key distribution (``operators/profile.py::js_divergence`` — raw
    token/category mass, no binning needed, bounded [0,1] even when a
    batch carries keys the reference never saw) and appends one
    ``(batch_id, by…, n_a, n_b, n_buckets_used, jsd)`` row per group.
    Same foreachBatch seam, same at-least-once → effectively-once
    contract (deterministic row per batch_id; dedup at read via
    :func:`read_jsd_timeline`). The reference is pre-aggregated to its
    (group, bucket) integer counts ONCE and that <=
    ``len(groups) × n_buckets``-row frame is what gets persisted — each
    batch's job aggregates only ITS OWN rows and joins the cached
    bucket counts; the raw reference rows are never re-read. The cached
    frame is unpersisted automatically when this query terminates
    (a listener keyed on the query id).
    """
    from blueetl_spark.operators.profile import (
        js_divergence_counts,
        jsd_bucket_counts,
    )

    ref_counts = jsd_bucket_counts(
        ref_df, key_col, by=list(by), n_buckets=n_buckets,
        hash_fn=hash_fn, count_name="__na",
    ).persist()

    def shard(batch_df: DataFrame, batch_id: str) -> DataFrame:
        cb = jsd_bucket_counts(
            batch_df, key_col, by=list(by), n_buckets=n_buckets,
            hash_fn=hash_fn, count_name="__nb",
        )
        return js_divergence_counts(ref_counts, cb, by=list(by)).withColumn(
            "batch_id", F.lit(batch_id)
        )

    query = _start_shard_stream(
        stream_df, shard, shard_path, checkpoint, batch_prefix, trigger
    )
    _unpersist_on_termination(ref_df.sparkSession, query, ref_counts)
    return query


def _unpersist_on_termination(spark, query, frame: DataFrame) -> None:
    """Release a monitor's cached reference frame when ITS query
    terminates: a StreamingQueryListener keyed on the query id that
    unpersists the frame and removes itself. Failure-safe — if the
    listener API is unavailable (e.g. Connect), the cache simply lives
    until the session ends, which is the pre-round-13 behavior."""
    try:
        from pyspark.sql.streaming import StreamingQueryListener
    except ImportError:  # pragma: no cover - very old pyspark
        return

    qid = str(query.id)

    class _Release(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) != qid:
                return
            try:
                frame.unpersist()
            finally:
                try:
                    spark.streams.removeListener(listener)
                except Exception:  # noqa: BLE001 - already removed
                    pass

    listener = _Release()
    try:
        spark.streams.addListener(listener)
    except Exception:  # noqa: BLE001 - listener seam unavailable
        pass


def read_jsd_timeline(spark, shard_path: str, by: tuple = ()) -> DataFrame:
    """Read a :func:`streaming_jsd_monitor` shard dir as the drift
    timeline, crash-replayed duplicates folded out on (batch_id, group)."""
    return (
        spark.read.parquet(shard_path)
        .dropDuplicates(["batch_id", *by])
    )
