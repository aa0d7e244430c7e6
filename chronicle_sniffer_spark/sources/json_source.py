"""tshark-JSON ingestion (SURVEY §2B S2; ref R9/R10/R22).

The reference stream-parses tshark's root-level JSON array with ijson
one packet at a time (json2udm_cloud.py:319-341) — its headline
memory optimization.  Spark's JSON datasource already streams and
partitions, so the whole concern disappears: ``multiLine`` mode reads
the root array, each element becomes a row, and unparseable elements
land in ``_corrupt_record`` instead of aborting the file (PERMISSIVE
mode — the reference instead fails the entire file and returns [],
json2udm_cloud.py:350-353; we quarantine, SURVEY §5.2-4).

At 100 TB: multiLine JSON is not splittable per file — parallelism is
per file, which matches the reference's unit of work (one rotated
≤10 MB pcap per file, sniffer_entrypoint.sh:15).  For larger files the
pcap decoder (sources/pcap.py) emits JSON-lines, which splits freely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from chronicle_sniffer_spark.schemas import RAW_PACKET_SCHEMA


def tshark_packets(reader: DataFrameReader | DataStreamReader, path: str) -> DataFrame:
    """tshark ``-T json`` files at ``path`` as one row per packet, through
    a batch ``spark.read`` or a streaming ``spark.readStream`` reader.

    Returns columns: ``_source`` (VARIANT), ``_corrupt_record``,
    ``source_file``.
    """
    df = (
        reader.schema(RAW_PACKET_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df.select(
        "_source",
        "_corrupt_record",
        F.input_file_name().alias("source_file"),
    )


def read_tshark_json(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of tshark ``-T json`` output (see :func:`tshark_packets`)."""
    return tshark_packets(spark.read, path)
