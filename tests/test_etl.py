"""ETL driver tests: partitioned sink (S8), per-file JSON outputs
(R24), per-file metrics (R23), overwrite idempotency (S7-shape)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from chronicle_sniffer_spark import etl

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PROC_TIME = "2025-09-05T12:00:00.000000Z"


def test_convert_and_sinks(spark, tmp_path):
    base = str(tmp_path)
    udm = etl.convert_directory(spark, os.path.join(FIXDIR, "*.json"), PROC_TIME)

    # S8: partitioned parquet
    pq_dir = os.path.join(base, "udm_parquet")
    etl.write_udm_parquet(udm, pq_dir)
    parts = [d for d in os.listdir(pq_dir) if d.startswith("event_date=")]
    assert parts, "expected event_date partitions"
    back = spark.read.parquet(pq_dir)
    assert back.count() == udm.count()

    # S8 stores the typed event struct, not the JSON serialization
    assert "event" in back.columns and "udm_json" not in back.columns

    # R24: one output dir per source file
    json_dir = os.path.join(base, "udm_json")
    outs = etl.write_udm_json_per_file(udm, json_dir)
    names = {os.path.basename(p) for p in outs}
    assert "source_base=synflood" in names
    assert "source_base=tcp_http" in names
    # each line is a valid standalone UDM event JSON
    syn = next(p for p in outs if p.endswith("synflood"))
    lines = []
    for f in os.listdir(syn):
        if f.endswith(".txt"):
            with open(os.path.join(syn, f)) as fh:
                lines += [json.loads(line) for line in fh if line.strip()]
    assert len(lines) == 50
    assert all("event" in e for e in lines)

    # R23: per-file metrics
    metrics = {r.file: r for r in etl.per_file_metrics(udm).collect()}
    assert metrics["synflood.json"].processed_packet_count == 50
    assert metrics["synflood.json"].error_event_count == 0
    assert metrics["mixed_error_packet.json"].error_event_count == 3
    assert metrics["corrupt_root.json"].processed_packet_count == 1
    assert metrics["corrupt_root.json"].error_event_count == 1

    # R24 byte-format parity: one <base>.udm.json JSON ARRAY per capture
    arr_dir = os.path.join(base, "udm_json_array")
    arr_outs = etl.write_udm_json_array_per_file(udm, arr_dir)
    arr_names = {os.path.basename(p) for p in arr_outs}
    assert "synflood.udm.json" in arr_names
    with open(next(p for p in arr_outs if p.endswith("synflood.udm.json"))) as fh:
        arr = json.load(fh)
    assert isinstance(arr, list) and len(arr) == 50
    assert all("event" in e for e in arr)

    # R23: malformed packets are counted separately, not as errors
    m2 = {r.file: r for r in etl.per_file_metrics(udm).collect()}
    assert m2["no_layers.json"].error_event_count == 0
    assert m2["no_layers.json"].malformed_event_count == 2

    # idempotent redelivery: rewriting produces identical content
    outs2 = etl.write_udm_json_per_file(udm, json_dir)
    assert outs == outs2


def _json_arrays(json_dir):
    """``{<base>.udm.json: sorted events}`` of a per-capture array dir."""
    arrays = {}
    for name in os.listdir(json_dir):
        if name.endswith(".udm.json"):
            with open(os.path.join(json_dir, name)) as fh:
                arrays[name] = sorted(json.dumps(e, sort_keys=True) for e in json.load(fh))
    return arrays


def test_main_writes_every_sink_and_reruns_idempotently(spark, tmp_path, capsys):
    """``etl.main`` twice into one output dir: exit 0, one
    UDM_PACKETS_PROCESSED line per capture, outputs equal to the
    per-function sinks, and the rerun overwrites to the same content."""
    out = str(tmp_path / "out")
    captures = sorted(f for f in os.listdir(FIXDIR) if f.endswith(".json"))
    udm = etl.convert_directory(spark, FIXDIR, PROC_TIME)
    want_rows = udm.count()
    metric_cols = etl.per_file_metrics(udm).columns
    want_metrics = sorted(etl.per_file_metrics(udm).collect(), key=lambda r: r.file)
    etl.write_udm_json_array_per_file(udm, str(tmp_path / "ref_json"))
    want_arrays = _json_arrays(str(tmp_path / "ref_json"))
    assert len(want_arrays) == len(captures)

    runs = []
    for _ in range(2):
        assert etl.main([FIXDIR, out, "--processing-time", PROC_TIME]) == 0
        logged = [
            line.rsplit(" FILE: ", 1)[1]
            for line in capsys.readouterr().out.splitlines()
            if line.startswith("UDM_PACKETS_PROCESSED: ")
        ]
        assert sorted(logged) == captures

        events = spark.read.parquet(os.path.join(out, "udm_parquet"))
        assert events.count() == want_rows
        metrics = spark.read.parquet(os.path.join(out, "file_metrics")).select(*metric_cols)
        assert sorted(metrics.collect(), key=lambda r: r.file) == want_metrics
        assert _json_arrays(os.path.join(out, "udm_json")) == want_arrays
        rows = events.select(F.to_json(F.struct(*events.columns))).collect()
        runs.append(sorted(r[0] for r in rows))
    assert runs[0] == runs[1]


def test_compact_small_files(spark, tmp_path):
    """Many tiny files in, few target-sized files out, content
    identical, and the rewrite plan is shuffle-free (coalesce)."""
    import glob

    from chronicle_sniffer_spark import etl

    src = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)
    n_in = len(glob.glob(f"{src}/*.parquet"))
    assert n_in >= 32  # genuinely fragmented input

    n_out = etl.compact_small_files(spark, src, out, target_bytes=1 << 20)
    assert n_out < n_in / 4
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appended files may gain columns; mergeSchema reads the union
    schema with NULLs for the missing values (the additive-evolution
    contract a long-lived 100 TB table relies on)."""
    base = str(tmp_path / "tbl")
    spark.range(0, 5).select(F.col("id"), F.lit("a").alias("b")).write.parquet(
        base + "/v1"
    )
    spark.range(5, 10).select(
        F.col("id"), F.lit("b").alias("b"), F.lit(1.5).alias("c")
    ).write.parquet(base + "/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(base + "/v1", base + "/v2")
    assert set(merged.columns) == {"id", "b", "c"}
    assert merged.count() == 10
    assert merged.filter(F.col("c").isNull()).count() == 5
