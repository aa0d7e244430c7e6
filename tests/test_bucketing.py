"""Bucketed co-located join (SURVEY §4.4): writing both join sides
bucketed by the join key lets the sort-merge join read pre-shuffled
data — the physical plan must contain NO Exchange on the bucketed
key.  At 100 TB this converts every fact-fact join on a shared key
from a full shuffle into a local merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table
from tests.conftest import SF_SMOKE

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("buckets"))
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        load_table(spark, SF_SMOKE, t).write.bucketBy(N_BUCKETS, key).sortBy(key).mode(
            "overwrite"
        ).option("path", os.path.join(wh, t)).saveAsTable(f"{t}_b")
    yield spark
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(bucketed):
    spark = bucketed
    # disable broadcast so the join strategy choice is about shuffling
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("orders_b")
        li = spark.table("lineitem_b")
        j = o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderpriority").count()
        plan = spark._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
        join_section = plan[: plan.index("HashAggregate")]
        assert "Exchange" not in join_section  # both sides pre-bucketed
        assert "SortMergeJoin" in plan
        # and the result matches the plain (shuffled) join
        o_raw = load_table(spark, SF_SMOKE, "orders")
        li_raw = load_table(spark, SF_SMOKE, "lineitem")
        expected = (
            o_raw.join(li_raw, o_raw.o_orderkey == li_raw.l_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, expected.collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucket_pruning_on_key_filter(bucketed):
    spark = bucketed
    # auto-bucketed-scan skips bucketing for a bare filter; force it so
    # the equality predicate can prune to a single bucket
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        li = spark.table("lineitem_b").filter(F.col("l_orderkey") == 1)
        plan = spark._jvm.PythonSQLUtils.explainString(li._jdf.queryExecution(), "formatted")
        # bucket pruning: only 1 of N buckets is selected for an equality
        assert "SelectedBucketsCount: 1 out of" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
