"""The reference's end-to-end pipeline as ONE streaming job
(SURVEY §3 entry points 1-3, re-expressed):

    capture dir (rotated tshark-JSON files)        [ref: R1/R3 rotation]
      → readStream file source (completed files only)
      → project_udm (R11-R22, same column expressions as batch)
      → foreachBatch: etl.write_udm_sinks into epoch-named dirs
           udm_events/epoch=N    partitioned parquet (S8)
           file_metrics/epoch=N  per-file metric rows (R23/R25)

Where the reference needed Pub/Sub push + Cloud Run + per-file
subprocesses, the streaming runtime supplies the same guarantees
natively: the file source lists only completed files (R3), the
checkpoint dedups re-listed files (R4), and the sink is idempotent
(R5/S7), so delivery is exactly-once.  The offset log pins the files of
an epoch, a capture never spans two epochs, and the sink OVERWRITES
that epoch's own directories, so an epoch replayed after a crash
anywhere before its commit-log entry replaces its rows instead of
appending them.  The tables are append-only, so no manifest is needed:
a reader lists ``udm_events/`` and ``file_metrics/`` as plain parquet,
with ``epoch`` as a partition column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.etl import write_udm_sinks
from chronicle_sniffer_spark.sources.json_source import tshark_packets
from chronicle_sniffer_spark.udm import project_udm


def read_capture_stream(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """S5 over tshark-JSON capture files (multiLine root arrays)."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    return tshark_packets(reader, in_dir)


def run_udm_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    processing_time: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 4,
) -> None:
    """Drive the capture directory to completion (AvailableNow replay —
    the same call tails a live directory with a different trigger)."""
    # udm_json excluded before the sink: the streamed table stores the
    # typed event struct, and the sink persists the whole batch, so a
    # kept udm_json would run to_json on every row of the micro-batch.
    udm_stream = (
        project_udm(read_capture_stream(spark, in_dir, max_files_per_trigger), processing_time)
        .drop("udm_json")
        .withColumn("event_date", F.to_date("event_ts"))
    )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        # overwrite this epoch's dirs: a replayed epoch rewrites its own
        # rows, never appends them (exactly-once, see the module docstring)
        tables = ("udm_events", "file_metrics")
        write_udm_sinks(batch, *(os.path.join(out_dir, t, f"epoch={epoch_id}") for t in tables))

    q = (
        udm_stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(out_dir, "_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
