"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same configs are what we'd set on a
real cluster (AQE on, skew-join handling, Arrow for the pandas-UDF path,
UTC session timezone so results compare bit-for-bit against UTC-naive
oracles such as DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "blueetl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd size this to ~2-3× total executor cores instead; AQE
    coalescing makes the exact number less critical.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else max(os.cpu_count() or 8, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver-provided events table stores ts as parquet TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read it as nanosecond longs instead.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Ad-hoc conf overrides for probes/A-B runs without code edits:
    # SPARK_GRAFT_CONF="key=value;key2=value2" (applied last, wins).
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a partition count for an explicit
    ``repartition``. A cluster may set it to a non-numeric value (e.g.
    ``"auto"``); then the default parallelism stands in."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def local_df(spark: SparkSession, rows, ddl: str):
    """Small driver-side DataFrame via the pandas/Arrow path.

    ``spark.createDataFrame(list_of_tuples, ...)`` executes through a
    pickled-Python local RDD: EVERY job whose plan includes it pays a
    Python-worker round trip (~0.3 s for scalar rows, 5+ s for
    array-typed rows, measured on this box — it was the dominant cost of
    the IVF index build). Routing through a pandas DataFrame instead
    yields an Arrow-backed JVM ``LocalRelation`` while
    ``spark.sql.execution.arrow.pyspark.enabled`` is true (``get_spark``
    sets it): no Python at execution time, Catalyst can fold/broadcast it
    like any literal table, and a filter or projection plus ``collect``
    over it runs no Spark job at all. With Arrow off the frame is a
    ``LogicalRDD`` instead, and every such collect runs a job.

    Rows are kept as dtype=object so None survives into nullable columns
    of any type; the explicit DDL fixes the schema (pandas would infer
    float64 for int-with-None). Handles empty ``rows``.
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    pdf = pd.DataFrame(list(rows), columns=schema.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema=schema)
