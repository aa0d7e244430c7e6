"""Unit tests for tables.spread()'s probe ladder — especially the
many-tiny-files case the round-7 ADVICE flagged: >= cores FILES is not
proof of >= cores TASKS, because Spark bin-packs small files into
partitions by maxPartitionBytes/openCostInBytes."""

from __future__ import annotations

import os


def test_spread_repartitions_many_tiny_files(spark, tmp_path):
    """40 one-row files pass the old file-count probe but scan as a
    handful of bin-packed tasks; spread() must see through that and
    repartition to >= cores."""
    from chronicle_sniffer_spark.tables import spread

    d = str(tmp_path / "t")
    # AQE coalesces the repartition's tiny shuffle partitions, which
    # would merge the output files — disable it for the staging write
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        spark.range(64).repartition(64).write.parquet(d)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    # pack the tiny files as tightly as Spark allows, so the raw scan
    # has fewer partitions than cores on any core count
    packing = ("spark.sql.files.minPartitionNum", "spark.sql.files.openCostInBytes")
    prev_packing = [spark.conf.get(k, None) for k in packing]
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        df = spark.read.parquet(d)
        par = spark.sparkContext.defaultParallelism
        assert len(df.inputFiles()) >= min(par, 64)
        # raw scan bin-packs the tiny files into far fewer partitions
        assert df.rdd.getNumPartitions() < par
        assert spread(df).rdd.getNumPartitions() >= par
    finally:
        for k, v in zip(packing, prev_packing):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_is_noop_on_already_parallel_relation(spark):
    """A relation already at >= cores partitions passes through with
    no extra exchange."""
    from chronicle_sniffer_spark.tables import spread

    par = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(par)
    out = spread(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly the one repartition the caller asked for, none added
    # (AQE prints the plan twice — measure the final section only)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, plan


def test_spread_passes_streams_through(spark):
    from chronicle_sniffer_spark.tables import spread

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert spread(stream) is stream
