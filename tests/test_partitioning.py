"""The partitioning policy: when ``spread`` repartitions and how."""

from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.partitioning import SMALL_PLAN_BYTES, spread


def _target(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_leaves_streams_alone(spark):
    stream = spark.readStream.format("rate").load()
    assert spread(stream) is stream


def test_spread_leaves_well_partitioned_input_alone(spark):
    # nparts * 4 > shuffle.partitions: already parallel enough
    df = spark.range(0, 1000, numPartitions=_target(spark))
    assert spread(df) is df
    assert spread(df, by=["id"]) is df


def test_spread_leaves_plans_below_min_bytes_alone(spark):
    df = spark.range(0, 10, numPartitions=1)
    assert spread(df, min_bytes=SMALL_PLAN_BYTES) is df
    assert spread(df, by=["id"], min_bytes=SMALL_PLAN_BYTES) is df


def test_spread_round_robins_to_shuffle_partitions(spark):
    df = spark.range(0, 1000, numPartitions=1)
    out = spread(df)
    assert out.rdd.getNumPartitions() == _target(spark)
    assert "RoundRobinPartitioning" in _plan(out)
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_keyed_spread_is_the_only_exchange_of_a_following_group_by(spark):
    df = spark.range(0, 1000, numPartitions=1).withColumn("k", F.col("id") % 7)
    keyed = _plan(spread(df, by=["k"]).groupBy("k").count())
    assert keyed.count("Exchange ") == 1, keyed
    assert "hashpartitioning(k" in keyed
    # contrast: a round-robin spread leaves the groupBy its own exchange
    assert _plan(spread(df).groupBy("k").count()).count("Exchange ") == 2
