"""Streaming replay harness: turn the static `events` table into a
multi-batch file stream and run queries to completion synchronously.

Mirrors the reference's unit-of-work model — one rotated file per
micro-batch (sniffer_entrypoint.sh:15; S5) — and gives tests a
deterministic ``Trigger.AvailableNow``-style drive (T7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from chronicle_sniffer_spark.tables import load_table, session_tmpdir

EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def stage_events_as_files(
    spark: SparkSession, sf_dir: str, n_files: int = 4, out_dir: str | None = None
) -> str:
    """Split the events table into n parquet files (≈ rotated captures)."""
    out = out_dir or os.path.join(session_tmpdir("css_stream_"), "events")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(out)
    return out


DOCS_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stage_documents_as_files(
    spark: SparkSession, sf_dir: str, n_files: int = 4, out_dir: str | None = None
) -> str:
    """Split the documents table into n parquet files — the arrival
    shape of a crawled/ingested document corpus (one file per fetch
    batch), feeding the streaming curation entries."""
    out = out_dir or os.path.join(session_tmpdir("css_docstream_"), "documents")
    load_table(spark, sf_dir, "documents").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def read_documents_stream(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming file source over a staged document corpus."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )


def read_events_stream(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S5: streaming file source over the staged directory; only
    completed files are listed (the reference needed lsof+anti-join
    bookkeeping for this, sniffer_entrypoint.sh:160-177 — R3/R4)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming query until all staged input is consumed and
    return the final result from the in-memory sink (T7 replay)."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def stage_events_time_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 4, out_dir: str | None = None
) -> tuple[str, list]:
    """Stage events as n time-range files with strictly increasing
    modification times, so the file stream replays them in event-time
    order (no late-arrival drops).  Returns (dir, per-file max ts).

    This mirrors real rotated-capture ingestion — file k covers a
    later time slice than file k-1 — which is the regime where outer
    stream–stream joins are meaningful (round-robin replay makes half
    the input "late" and watermark-dropped on arrival).
    """
    import shutil
    import time as _time

    out = out_dir or os.path.join(session_tmpdir("css_stream_sorted_"), "events")
    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    probs = [i / n_files for i in range(1, n_files)]
    # NTZ-safe: parquet may carry ts as TIMESTAMP_NTZ (isAdjustedToUTC=0) and
    # Spark refuses TIMESTAMP_NTZ -> DOUBLE; go through timestamp_ltz first.
    ts_num = "cast(unix_micros(cast(ts as timestamp_ltz)) as double)"
    cuts = ev.selectExpr(f"{ts_num} d").approxQuantile("d", probs, 0.0)
    import pyspark.sql.functions as F

    bounds: list = []
    lo = None
    for i in range(n_files):
        hi = cuts[i] if i < len(cuts) else None
        sl = ev
        if lo is not None:
            sl = sl.filter(F.expr(ts_num) > F.lit(lo))
        if hi is not None:
            sl = sl.filter(F.expr(ts_num) <= F.lit(hi))
        # staged under a hidden (underscore) name inside the output
        # directory, so no file source lists it before the move
        tmp = os.path.join(out, f"_slice_{i:03d}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(out, f"slice_{i:03d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        t = _time.time() + i * 2  # strictly increasing mtimes
        os.utime(dst, (t, t))
        bounds.append(sl.agg(F.max("ts")).collect()[0][0])
        lo = hi
    return out, bounds
