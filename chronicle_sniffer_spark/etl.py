"""Batch ETL driver: tshark-JSON directory → UDM table + sinks.

Re-expresses the reference's processor pipeline (processor_app.py:99-193)
as one Spark job: where the reference fans out one Cloud Run instance
per file and buffers each file's output in memory
(json2udm_cloud.py:325,337), this plans a single DAG whose parallelism
is partitions × executors and whose memory is bounded per partition.

Sinks:
- ``write_udm_parquet``  partitioned analytics table (S8) storing the
  TYPED ``event`` struct — the JSON serialization is never computed on
  this path (column pruning removes it)
- ``write_udm_json_per_file``  newline-delimited UDM JSON per source
  capture file (the distributed write)
- ``write_udm_json_array_per_file``  the reference's exact output
  format on top of it: one ``<base>.udm.json`` JSON-array file per
  input capture (R24; naming processor_app.py:139-141, array format
  json2udm_cloud.py:395, blob overwrite idempotency :171)
- ``per_file_metrics``  processed/error/malformed counters per file
  (R23; error counts only PacketProcessingError events, matching the
  reference's UDM_PACKET_ERRORS, json2udm_cloud.py:340) and
  wall-clock duration logging shape (R25)

``write_udm_sinks`` is the one sink body over them, shared by ``main``
and the stream's ``foreachBatch`` (streaming/udm_pipeline.py): it
persists the projected batch once, so every output comes from one
parse of the captures, and overwrites each output, so a repeated call
on the same input leaves the same content (the reference's blob
overwrite, processor_app.py:171).  ``main`` persists the whole input;
at scale the stream is the bounded form, each persist holding one
micro-batch of at most ``maxFilesPerTrigger`` captures.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.sources.json_source import read_tshark_json
from chronicle_sniffer_spark.udm import project_udm


def convert_directory(spark: SparkSession, in_path: str, processing_time: str) -> DataFrame:
    """Directory (or glob) of tshark JSON files → UDM DataFrame with
    ``event_date`` partition column."""
    udm = project_udm(read_tshark_json(spark, in_path), processing_time)
    return udm.withColumn("event_date", F.to_date("event_ts"))


def write_udm_parquet(udm: DataFrame, out_dir: str) -> None:
    """S8: partitioned table sink — date partitioning matches the query
    pattern (dashboards aggregate by time) so partition pruning applies
    at 100 TB.  Stores the typed ``event`` struct; the ``udm_json``
    serialization is excluded so column pruning keeps ``to_json`` out
    of this plan entirely (it belongs to the JSON sink only)."""
    cols = [c for c in udm.columns if c != "udm_json"]
    udm.select(*cols).write.mode("overwrite").partitionBy("event_date").parquet(out_dir)


def write_udm_json_per_file(udm: DataFrame, out_dir: str) -> list[str]:
    """Newline-delimited UDM JSON, grouped per source capture file.

    Implemented as a partitionBy on the source basename over the text
    sink: each input file's events land under
    ``<out_dir>/source_base=<name>/``, written in one pass, no driver
    loop over files.  Returns the list of per-file output directories.
    (For the reference's exact one-array-file-per-capture format, see
    :func:`write_udm_json_array_per_file`.)
    """
    named = udm.withColumn(
        "source_base",
        F.regexp_replace(
            F.regexp_extract("source_file", r"([^/]+)$", 1), r"\.(pcap|pcapng|json).*$", ""
        ),
    )
    (
        named.select("source_base", "udm_json")
        .repartition("source_base")
        .write.mode("overwrite")
        .partitionBy("source_base")
        .text(out_dir)
    )
    return sorted(
        os.path.join(out_dir, d) for d in os.listdir(out_dir) if d.startswith("source_base=")
    )


def write_udm_json_array_per_file(udm: DataFrame, out_dir: str) -> list[str]:
    """R24 output-shape parity: one ``<base>.udm.json`` file per
    source capture, each a single JSON ARRAY of UDM events — the
    reference's output SHAPE and naming (json2udm_cloud.py:395,
    processor_app.py:139-141).  NOT byte-identical to the reference:
    it writes ``json.dump(..., indent=4)`` with source key order,
    while this emits one compact sorted-key object per event (same
    information, deterministic; a pretty-printer pass would close the
    gap if bytes ever matter).  ``out_dir`` must be a local
    filesystem path — the concatenation pass uses ``os`` I/O (an
    object-store target would need fsspec or a JVM-side copy).

    The heavy lifting (serialize + group by source file) is the
    distributed :func:`write_udm_json_per_file`; this adds a streaming
    concatenation pass per capture file.  That pass is O(one capture
    file) memory and parallel across files at the filesystem level —
    capture files are rotation-bounded (R1/R3), so this never scales
    with total corpus size, only with single-capture size.
    """
    part_dirs = write_udm_json_per_file(udm, out_dir)
    outputs = []
    for d in part_dirs:
        base = os.path.basename(d).split("=", 1)[1]
        target = os.path.join(out_dir, f"{base}.udm.json")
        with open(target, "w") as out:
            out.write("[\n")
            first = True
            for part in sorted(os.listdir(d)):
                if not part.endswith(".txt"):
                    continue
                with open(os.path.join(d, part)) as fh:
                    for line in fh:
                        line = line.strip()
                        if not line:
                            continue
                        if not first:
                            out.write(",\n")
                        out.write(line)
                        first = False
            out.write("\n]\n")
        outputs.append(target)
    return sorted(outputs)


def per_file_metrics(udm: DataFrame) -> DataFrame:
    """R23/R25: per-file processed/error counters.  ``error_event_count``
    counts only PacketProcessingError quarantine events — the
    reference's UDM_PACKET_ERRORS metric (json2udm_cloud.py:340);
    malformed-but-parsed packets are surfaced separately so the R23
    metric is not inflated."""
    return udm.groupBy(F.regexp_extract("source_file", r"([^/]+)$", 1).alias("file")).agg(
        F.count("*").alias("processed_packet_count"),
        F.sum(F.when(F.col("is_error"), 1).otherwise(0)).alias("error_event_count"),
        F.sum(F.when(F.col("is_malformed"), 1).otherwise(0)).alias("malformed_event_count"),
        F.min("event_ts").alias("first_event_ts"),
        F.max("event_ts").alias("last_event_ts"),
    )


def write_udm_sinks(
    udm: DataFrame, events_dir: str, metrics_dir: str, json_dir: str | None = None
) -> None:
    """Persist ``udm`` once and overwrite, from that one copy, the
    events table (:func:`write_udm_parquet`), the
    :func:`per_file_metrics` rows and, when ``json_dir`` is given, the
    per-capture JSON arrays (:func:`write_udm_json_array_per_file`)."""
    udm.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_udm_parquet(udm, events_dir)
        per_file_metrics(udm).write.mode("overwrite").parquet(metrics_dir)
        if json_dir is not None:
            write_udm_json_array_per_file(udm, json_dir)
    finally:
        udm.unpersist()


def compact_small_files(
    spark: SparkSession, in_dir: str, out_dir: str, target_bytes: int = 128 << 20
) -> int:
    """Table maintenance: rewrite a directory of small parquet files
    into ~``target_bytes`` files (the classic streaming-sink cleanup —
    micro-batches leave thousands of KB-sized files whose per-file
    open/footer cost dominates scans at 100 TB).

    The output file count is sized from the INPUT bytes (listing only,
    no data read), then the rewrite is a single narrow coalesce — no
    shuffle: coalesce merges partitions in place, unlike repartition
    which would add a round-robin exchange.  Returns the number of
    files written.  At cluster scale the same routine runs per
    partition directory, keyed off the partition values, so compaction
    parallelizes across partitions and never rewrites hot ones being
    appended to.

    Sizing uses the Hadoop FileSystem API (not a local-OS glob), so
    the same call works against any filesystem Spark can read —
    local, HDFS, or an object store mounted via its Hadoop
    connector."""

    def _parquet_bytes_and_count(dir_path: str) -> tuple[int, int]:
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(dir_path)
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        total = count = 0
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                total += st.getLen()
                count += 1
        return total, count

    total, _ = _parquet_bytes_and_count(in_dir)
    n_files = max(1, -(-total // target_bytes))  # ceil
    df = spark.read.parquet(in_dir)
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(out_dir)
    return _parquet_bytes_and_count(out_dir)[1]


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's converter entry point
    (json2udm_cloud.py:364-408): input path (file/glob/dir of tshark
    JSON, or .pcap with --pcap), output dir; exit 0 on success, 1 when
    every row failed (the reference's empty-output guard,
    processor_app.py:165-167)."""
    import argparse
    import time

    p = argparse.ArgumentParser(prog="chronicle_sniffer_spark.etl")
    p.add_argument("input", help="tshark JSON file/glob/dir, or pcap dir with --pcap")
    p.add_argument("output", help="output directory (parquet + per-file udm.json)")
    p.add_argument("--pcap", action="store_true", help="decode .pcap input (S4 path)")
    p.add_argument(
        "--processing-time",
        default=None,
        help="injected deterministic fallback timestamp (ISO-8601 Z); default: now",
    )
    args = p.parse_args(argv)

    from datetime import datetime, timezone

    proc_time = args.processing_time or (
        datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    )
    from chronicle_sniffer_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("chronicle-etl")
    if args.pcap:
        from chronicle_sniffer_spark.sources.pcap import read_pcap

        udm = project_udm(read_pcap(spark, args.input), proc_time).withColumn(
            "event_date", F.to_date("event_ts")
        )
    else:
        udm = convert_directory(spark, args.input, proc_time)
    # Metrics go to a sink (no O(n_files) driver materialization); the
    # log lines stream through a bounded iterator, and the exit-code
    # total is a single-row aggregate.
    metrics_dir = os.path.join(args.output, "file_metrics")
    json_dir = os.path.join(args.output, "udm_json")
    write_udm_sinks(udm, os.path.join(args.output, "udm_parquet"), metrics_dir, json_dir)
    spark_metrics = spark.read.parquet(metrics_dir)
    for m in spark_metrics.toLocalIterator():
        # the reference's per-file metric log lines (terraform/main.tf:238-548)
        print(f"UDM_PACKETS_PROCESSED: {m.processed_packet_count} FILE: {m.file}")
        print(f"UDM_PACKET_ERRORS: {m.error_event_count} FILE: {m.file}")
    total = spark_metrics.agg(F.sum("processed_packet_count").alias("n")).collect()[0].n or 0
    print(f"PROCESSING_DURATION_SECONDS: {time.time() - t0:.2f}")
    return 0 if total > 0 else 1


if __name__ == "__main__":  # pragma: no cover - thin CLI shim
    import sys

    sys.exit(main())
