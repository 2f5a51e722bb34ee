from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.digest import combine, digest, digest_frames, select


def _frame(spark):
    return spark.range(0, 2000).select(
        (F.col("id") % 7).cast("smallint").alias("simulation_id"),
        F.col("id").alias("gid"),
        (F.col("id") / 3.0).alias("x"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id").cast("string")).alias("s"),
    )


def test_digest_ignores_row_order_and_partitioning(spark):
    df = _frame(spark)
    shuffled = df.orderBy(F.rand(1)).repartition(7).select("x", "s", "gid", "simulation_id")
    assert digest(df) == digest(shuffled)
    assert digest(df.coalesce(1)) == digest(df)


def test_digest_sees_a_changed_value(spark):
    df = _frame(spark)
    changed = df.withColumn("x", F.when(F.col("gid") == 11, 0.5).otherwise(F.col("x")))
    assert digest(df) != digest(changed)
    assert digest(df)[0] == 2000


def test_per_key_digests_add_up(spark):
    df = _frame(spark)
    per = digest_frames({"t": df}, by="simulation_id")["t"]
    assert combine(list(per.values())) == digest(df)
    sub = df.filter(F.col("simulation_id").isin([1, 4]))
    assert select(per, [1, 4]) == digest(sub)


def test_reference_of_the_whole_campaign_stands_for_a_subset(spark, tmp_path, monkeypatch):
    """The premise of the campaign check: per-simulation digests of one
    uncached run over all simulations, summed over a filter's
    simulations, equal the digests of an uncached run with that filter."""
    from blueetl_spark.adapters.parquet import ParquetAdapter
    from blueetl_spark.analysis import MultiAnalyzer

    monkeypatch.setattr(inputs, "EVENTS_PER_SIM", 2000)
    inputs.write_campaign_inputs(spark, 5, tmp_path)
    ad = ParquetAdapter(spark, tmp_path)

    def run(flt):
        cfg = {**inputs.campaign_config(), "simulations_filter": flt}
        a = MultiAnalyzer(spark, cfg, ad.nodes(), ad.events(), cache_path=None).spikes
        return {**a.extract(), **a.calculate_features()}

    ref = digest_frames(run(None), by="simulation_id")
    flt = {"seed": [11, 13], "ca": [1.05, 1.15]}
    got = digest_frames(run(flt))
    ids = inputs.simulation_ids(flt)
    assert got == {name: select(ref[name], ids) for name in got}
