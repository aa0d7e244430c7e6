"""Whole-stage codegen guard for the UDM sinks.

Spark falls back to interpreted evaluation, with only an ERROR log line,
when a whole-stage codegen class fails to compile (Janino's 64 KB
method limit), and it caches only successful compiles, so a plan that
cannot compile pays the failed compile again every time it is planned.
These tests run every UDM sink with ``spark.sql.codegen.fallback``
switched off for their own duration, so such a failure raises instead,
and bound the largest generated method of the sink projections.
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from chronicle_sniffer_spark import etl
from chronicle_sniffer_spark.plans import registry

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PROC_TIME = "2025-09-05T12:00:00.000000Z"
# Half of the JVM's 64 KB method limit: room for the projection to grow.
MAX_METHOD_BYTES = 32 * 1024


@contextlib.contextmanager
def no_codegen_fallback(spark):
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def udm(spark):
    return etl.convert_directory(spark, os.path.join(FIXDIR, "*.json"), PROC_TIME)


def _source_base(udm):
    return udm.withColumn(
        "source_base",
        F.regexp_replace(
            F.regexp_extract("source_file", r"([^/]+)$", 1), r"\.(pcap|pcapng|json).*$", ""
        ),
    )


def test_udm_sinks_compile_without_fallback(spark, udm, tmp_path):
    n = udm.count()
    with no_codegen_fallback(spark):
        etl.write_udm_parquet(udm, str(tmp_path / "parquet"))
        outs = etl.write_udm_json_array_per_file(udm, str(tmp_path / "json"))
        etl.per_file_metrics(udm).write.mode("overwrite").parquet(str(tmp_path / "metrics"))
        etl.write_udm_sinks(
            udm, str(tmp_path / "events"), str(tmp_path / "file_metrics"), str(tmp_path / "arr")
        )
        rows = registry()["udm_projection"].spark_fn(spark, "").collect()
    assert spark.read.parquet(str(tmp_path / "parquet")).count() == n
    assert spark.read.parquet(str(tmp_path / "events")).count() == n
    assert len(outs) == len([f for f in os.listdir(FIXDIR) if f.endswith(".json")])
    assert len(rows) == n


def _codegen_stages(df):
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [(seq.apply(i)._1(), seq.apply(i)._3()) for i in range(seq.size())]


@pytest.mark.parametrize("sink", ["parquet", "json", "all_columns"])
def test_udm_sink_stages_compile_with_headroom(udm, sink):
    """The sink projections (no exchange, so AQE does not wrap them):
    every whole-stage class compiles, and its largest method stays
    under half the JVM limit."""
    df = {
        "parquet": udm.select(*(c for c in udm.columns if c != "udm_json")),
        "json": _source_base(udm).select("source_base", "udm_json"),
        "all_columns": udm,
    }[sink]
    stages = _codegen_stages(df)
    assert stages
    for subtree, stats in stages:
        print(f"{sink} stage {subtree.splitlines()[0][:40]}: maxMethodCodeSize={stats.maxMethodCodeSize()}")
    sizes = [stats.maxMethodCodeSize() for _, stats in stages]
    assert -1 not in sizes, f"a {sink} stage failed to compile: {sizes}"
    assert max(sizes) <= MAX_METHOD_BYTES, sizes


def _interpreted_projects(plan, in_codegen=False):
    name = plan.getClass().getSimpleName()
    if name == "WholeStageCodegenExec":
        in_codegen = True
    elif name == "InputAdapter":
        in_codegen = False
    found = [plan] if name == "ProjectExec" and not in_codegen else []
    children = plan.children()
    for i in range(children.size()):
        found += _interpreted_projects(children.apply(i), in_codegen)
    return found


def test_ttl_islet_is_the_one_narrow_interpreted_project(udm):
    """The DNS TTL check's lambda is the one interpreted operator: a
    Project outside whole-stage codegen that computes that one column
    and passes the rest through."""
    plan = udm.drop("udm_json")._jdf.queryExecution().executedPlan()
    (islet,) = _interpreted_projects(plan)
    exprs = islet.projectList()
    computed = [
        exprs.apply(i).name()
        for i in range(exprs.size())
        if exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
    ]
    assert computed == ["_ttl_err_raw"]
