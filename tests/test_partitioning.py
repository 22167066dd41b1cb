"""spread_input: the conditional repartition of an under-parallel
source. It must leave streaming plans and already-parallel plans
untouched and spread a one-file scan to the session's fan-out count."""

from aef_mosaic_spark.partitioning import fanout_partitions, spread_input


def test_spread_input_leaves_streaming_df_unchanged(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    assert spread_input(stream, "id") is stream


def test_spread_input_repartitions_one_file_scan(spark, tmp_path):
    src = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() < fanout_partitions(df)
    out = spread_input(df, "id")
    assert out.rdd.getNumPartitions() == fanout_partitions(df)
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_spread_input_leaves_parallel_df_unchanged(spark):
    n = fanout_partitions(spark.range(1))
    for parts in (n, n + 3):
        df = spark.range(0, 1000, numPartitions=parts)
        assert spread_input(df, "id") is df


def test_spread_input_leaves_exchange_plan_unchanged_without_running_it(spark, tmp_path):
    """A joined plan (the resume tile table's shape) is not the leaf
    scan spread_input targets; counting its partitions under AQE would
    execute the join's upstream stages."""
    src = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    joined = df.join(df.groupBy((df.id % 7).alias("id")).count(), "id")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    assert spread_input(joined, "id") is joined
    assert len(tracker.getJobIdsForGroup(None)) == jobs_before
