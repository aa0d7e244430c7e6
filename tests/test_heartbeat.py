"""Heartbeat liveness (R6 + inactive-sniffer alert): parse, window,
and alert on missing heartbeats; stream equals batch."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from chronicle_sniffer_spark.streaming.heartbeat import (
    heartbeat_source,
    inactive_alerts,
    liveness_windows,
    parse_heartbeats,
)

T0 = datetime(2024, 1, 1, 10, 0, 0)
LINE_SCHEMA = "ts timestamp, line string"


@pytest.fixture(scope="module")
def lines(spark):
    """3 sniffers; sniffer-2 goes silent from 10:02, sniffer-1 reports
    'stopped' in the 10:03 window."""
    rows = []
    for minute in range(5):
        ts = T0 + timedelta(minutes=minute, seconds=30)
        for s in range(3):
            if s == 2 and minute >= 2:
                continue  # silent → alert
            status = "stopped" if (s == 1 and minute == 3) else "running"
            rows.append((ts, f"TSHARK_STATUS: {status} (sniffer: sniffer-{s})"))
    return spark.createDataFrame(rows, LINE_SCHEMA)


def test_liveness_windows(spark, lines):
    lw = liveness_windows(parse_heartbeats(lines)).collect()
    by_key = {(r.w_start.isoformat(), r.sniffer_id): (r.n_beats, r.n_running) for r in lw}
    assert by_key[("2024-01-01T10:00:00", "sniffer-2")] == (1, 1)
    assert ("2024-01-01T10:02:00", "sniffer-2") not in by_key
    assert by_key[("2024-01-01T10:03:00", "sniffer-1")] == (1, 0)  # stopped ≠ running


def test_inactive_alerts(spark, lines):
    registered = spark.createDataFrame(
        [("sniffer-0",), ("sniffer-1",), ("sniffer-2",)], "sniffer_id string"
    )
    alerts = inactive_alerts(parse_heartbeats(lines), registered).collect()
    got = sorted((r.w_start.isoformat(), r.sniffer_id) for r in alerts)
    assert got == [
        ("2024-01-01T10:02:00", "sniffer-2"),
        ("2024-01-01T10:03:00", "sniffer-2"),
        ("2024-01-01T10:04:00", "sniffer-2"),
    ]


def test_liveness_stream_equals_batch(spark, lines, tmp_path):
    d = str(tmp_path / "hb")
    lines.repartition(3).write.mode("overwrite").parquet(d)
    from chronicle_sniffer_spark.streaming.runtime import run_to_completion

    stream = spark.readStream.schema(LINE_SCHEMA).parquet(d)
    result = run_to_completion(
        liveness_windows(parse_heartbeats(stream)), "hb_stream", "complete"
    )
    batch = liveness_windows(parse_heartbeats(spark.read.parquet(d)))
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert key(result) == key(batch)


def test_rate_source_shape(spark):
    """The live heartbeat source builds and carries the contract
    columns (rate source can't replay deterministically; shape only)."""
    hb = heartbeat_source(spark)
    assert hb.isStreaming
    assert [f.name for f in hb.schema.fields] == ["ts", "sniffer_id", "line"]
