"""End-to-end streaming UDM pipeline: capture dir replayed as a stream
equals the batch conversion; restart from checkpoint processes only new
files (R4 dedup); metrics rows match R23 counters; a micro-batch
replayed after a crash replaces its rows (exactly-once, R5/S7)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from chronicle_sniffer_spark.etl import convert_directory, per_file_metrics
from chronicle_sniffer_spark.streaming.udm_pipeline import run_udm_stream

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PROC_TIME = "2025-09-05T12:00:00.000000Z"


def _key(df):
    # canonical serialization of the typed event struct (the streamed
    # table stores `event`, the batch side can serve either form)
    rows = df.select(
        F.to_json(F.struct(F.col("event").alias("event"))).alias("j"), "source_file"
    ).collect()
    return sorted((r.j, os.path.basename(r.source_file)) for r in rows)


def test_stream_pipeline_equals_batch_and_resumes(spark, tmp_path):
    in_dir = os.path.join(tmp_path, "captures")
    out_dir = os.path.join(tmp_path, "out")
    os.makedirs(in_dir)
    fixtures = sorted(f for f in os.listdir(FIXDIR) if f.endswith(".json"))
    first, second = fixtures[:-2], fixtures[-2:]
    for f in first:
        shutil.copy(os.path.join(FIXDIR, f), in_dir)

    run_udm_stream(spark, in_dir, out_dir, PROC_TIME)
    got1 = spark.read.parquet(os.path.join(out_dir, "udm_events"))
    batch1 = convert_directory(spark, os.path.join(in_dir, "*.json"), PROC_TIME)
    assert _key(got1) == _key(batch1)

    # restart: two more files arrive; checkpoint must skip the old ones
    for f in second:
        shutil.copy(os.path.join(FIXDIR, f), in_dir)
    run_udm_stream(spark, in_dir, out_dir, PROC_TIME)
    got2 = spark.read.parquet(os.path.join(out_dir, "udm_events"))
    batch2 = convert_directory(spark, os.path.join(in_dir, "*.json"), PROC_TIME)
    assert _key(got2) == _key(batch2)  # no duplicates, nothing missed

    # R23 metrics: counters per file match the batch-side aggregation
    metrics = spark.read.parquet(os.path.join(out_dir, "file_metrics"))
    m_stream = {
        r.file: (r.processed_packet_count, r.error_event_count) for r in metrics.collect()
    }
    m_batch = {
        r.file: (r.processed_packet_count, r.error_event_count)
        for r in per_file_metrics(batch2).collect()
    }
    assert m_stream == m_batch
    # every observed epoch wrote its files exactly once
    assert metrics.groupBy("file").count().filter(F.col("count") > 1).count() == 0


@pytest.mark.parametrize("crash", ["metrics_write", "lost_commit"])
def test_replayed_epoch_replaces_its_rows(spark, tmp_path, monkeypatch, crash):
    """Three captures in two epochs.  ``metrics_write``: the second
    epoch's metrics write raises once, after its events write.
    ``lost_commit``: after a clean drain the last epoch's commit-log
    entry is gone (a crash after the sink returned, before Spark logged
    the commit).  Either way the restart replays that epoch, and the
    output must equal the batch conversion with one metrics row per
    file."""
    in_dir = os.path.join(tmp_path, "captures")
    out_dir = os.path.join(tmp_path, "out")
    os.makedirs(in_dir)
    for f in ("mixed_error_packet.json", "no_layers.json", "tcp_http.json"):
        shutil.copy(os.path.join(FIXDIR, f), in_dir)

    def drain():
        run_udm_stream(spark, in_dir, out_dir, PROC_TIME, max_files_per_trigger=2)

    if crash == "metrics_write":
        write_parquet = DataFrameWriter.parquet
        metric_writes = []

        def flaky_parquet(self, path, *args, **kwargs):
            if "file_metrics" in path:
                metric_writes.append(path)
                if len(metric_writes) == 2:
                    raise RuntimeError("injected crash after the events write")
            return write_parquet(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", flaky_parquet)
        with pytest.raises(Exception, match="injected crash"):
            drain()
    else:
        drain()
        commits = os.path.join(out_dir, "_checkpoint", "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        assert last >= 1
        os.remove(os.path.join(commits, str(last)))
        os.remove(os.path.join(commits, f".{last}.crc"))
    drain()

    batch = convert_directory(spark, os.path.join(in_dir, "*.json"), PROC_TIME)
    assert _key(spark.read.parquet(os.path.join(out_dir, "udm_events"))) == _key(batch)
    want = per_file_metrics(batch)
    metrics = spark.read.parquet(os.path.join(out_dir, "file_metrics")).select(*want.columns)
    got = sorted(metrics.collect(), key=lambda r: r.file)
    assert got == sorted(want.collect(), key=lambda r: r.file)
