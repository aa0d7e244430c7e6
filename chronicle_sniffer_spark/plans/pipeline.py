"""Source/sink + pipeline-shaped catalog entries (SURVEY.md §2B S-series).

The UDM projection entries are appended here once sources/udm land;
streaming (T-series) entries are registered without oracles (the
driver records rows-only checks for non-SQL-expressible ops).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import query, sql_query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# Parquet scan smoke: count(*) is metadata-only (no column read).
sql_query(
    "s1_parquet_count",
    section="S1",
    text="SELECT count(*) AS n FROM {lineitem}",
)


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)
PROC_TIME = "2025-09-05T12:00:00.000000Z"


@query("udm_projection", section="S2/R11-R22", oracle=None)
def udm_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full UDM projection over the tshark-shaped fixture corpus
    (golden-verified against the Python oracle in tests/test_udm.py;
    rows-only here — not SQL-expressible)."""
    from chronicle_sniffer_spark.sources.json_source import read_tshark_json
    from chronicle_sniffer_spark.udm import project_udm

    raw = read_tshark_json(spark, os.path.join(FIXTURE_DIR, "*.json"))
    return project_udm(raw, PROC_TIME).select("udm_json", "event_type", "is_error", "event_ts")


@query("s4_pcap_ingest", section="S4/R9", oracle=None)
def s4_pcap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary captures → packets → UDM event-type counts (rows-only
    smoke; byte-level decode assertions live in tests/test_pcap.py).
    Covers BOTH containers the reference's '.pcap*' wildcard ships
    (sniffer_entrypoint.sh:159-164) — a classic .pcap and a .pcapng of
    the same frames — plus one unknown-magic file that must surface as
    a quarantined error event rather than silently yielding nothing.
    Captures are synthesized deterministically at call time — testdata
    ships no binary captures (the reference's own are missing blobs,
    .MISSING_LARGE_BLOBS:1-3)."""
    from chronicle_sniffer_spark.sources.pcap import read_pcap
    from chronicle_sniffer_spark.sources.pcap_synth import (
        example_packets,
        pcap_bytes,
        pcapng_bytes,
    )
    from chronicle_sniffer_spark.udm import project_udm

    def build() -> str:
        d = session_tmpdir("css_s4_")
        with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
            f.write(pcap_bytes(example_packets()))
        with open(os.path.join(d, "capture_2.pcapng"), "wb") as f:
            f.write(pcapng_bytes(example_packets()))
        with open(os.path.join(d, "garbage.pcap"), "wb") as f:
            f.write(b"\x00\x01\x02\x03" * 16)
        return d

    captures = session_memo(spark, ("s4_captures",), build)
    udm = project_udm(read_pcap(spark, captures), PROC_TIME)
    return (
        udm.groupBy(F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query("udm_per_file_metrics", section="R23/R25", oracle=None)
def udm_per_file_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file processed/error counters (ref UDM_PACKETS_PROCESSED /
    UDM_PACKET_ERRORS logs, json2udm_cloud.py:325-348) as a grouped agg."""
    from chronicle_sniffer_spark.etl import per_file_metrics
    from chronicle_sniffer_spark.sources.json_source import read_tshark_json
    from chronicle_sniffer_spark.udm import project_udm

    raw = read_tshark_json(spark, os.path.join(FIXTURE_DIR, "*.json"))
    return (
        per_file_metrics(project_udm(raw, PROC_TIME))
        .select("file", "processed_packet_count", "error_event_count")
        .orderBy("file")
    )


@query(
    "s3_csv_roundtrip",
    section="S3",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV scan (declared schema, no inference) round-trips
    the region dim byte-exact."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = session_memo(
        spark, ("s3_csv_roundtrip", os.path.abspath(sf_dir)), lambda: session_tmpdir("css_s3_")
    )
    r.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema("r_regionkey int, r_name string").option("header", True).csv(out)


@query(
    "s9_orc_roundtrip",
    section="S3",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan round-trips the nation dim byte-exact
    (columnar-format coverage beyond parquet/CSV/JSON; ORC is a
    first-class Spark source with the same pushdown/pruning path)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = session_memo(
        spark, ("s9_orc_roundtrip", os.path.abspath(sf_dir)), lambda: session_tmpdir("css_s9_")
    )
    n.write.mode("overwrite").orc(out)
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").orc(out)


# ---------------------------------------------------------------------------
# S8 extension: Z-order (space-filling-curve) layout key
# ---------------------------------------------------------------------------

_ZBITS = 6  # 6 bits per dimension → 12-bit z-value


def _z_spark(x: str, y: str) -> str:
    terms = [
        f"shiftleft(shiftright({x}, {i}) & 1, {2 * i}) + "
        f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})"
        for i in range(_ZBITS)
    ]
    return " + ".join(terms)


def _z_duck(x: str, y: str) -> str:
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(_ZBITS)
    ]
    return " + ".join(terms)


@query(
    "s8_zorder_key",
    section="S8",
    oracle=f"""
    WITH dims AS (
      SELECT c_custkey,
             CAST(c_nationkey AS INTEGER) AS zx,
             CAST(least(greatest(floor((c_acctbal + 1000.0) / 200.0), 0), 63) AS INTEGER) AS zy
      FROM customer
    )
    SELECT c_custkey, zx, zy,
           CAST({_z_duck("zx", "zy")} AS INTEGER) AS zval
    FROM dims
    """,
)
def s8_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key: bit-interleaves nation and a
    64-bucket balance band so a range-partitioned, sorted write
    co-locates rows that are close in BOTH dimensions — the standard
    data-layout move for multi-dimension data skipping at 100 TB
    (min/max footer stats prune on either predicate).  The interleave
    is a pure integer expression (JVM-side, no UDF); the companion
    clustered write is `zorder_write` below, plan-asserted in
    tests/test_plans.py."""
    c = load_table(spark, sf_dir, "customer")
    dims = c.select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("zx"),
        F.least(F.greatest(F.floor((F.col("c_acctbal") + 1000.0) / 200.0), F.lit(0)), F.lit(63))
        .cast("int")
        .alias("zy"),
    )
    return dims.select(
        "c_custkey", "zx", "zy", F.expr(_z_spark("zx", "zy")).cast("int").alias("zval")
    )


def zorder_write(df: DataFrame, zcol: str, out_dir: str, n_files: int = 8) -> None:
    """Clustered write: range-partition on the z-value and sort within
    partitions, so every output file covers a tight z-range (tight
    min/max on both interleaved dimensions).  One range-exchange, no
    global sort bottleneck — the sort is per-partition."""
    (
        df.repartitionByRange(n_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


@query(
    "s10_python_datasource",
    section="S2",
    oracle="""
    SELECT CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN 'tcp' WHEN 1 THEN 'udp'
                WHEN 2 THEN 'icmp' ELSE 'dns' END AS proto,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(64 + (i * 31) % 1400) AS BIGINT) AS total_len,
           min(i) AS first_id, max(i) AS last_id
    FROM range(20000) t(i)
    GROUP BY proto
    """,
)
def s10_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source connector (Spark 4 `datasource` API,
    sources/packet_source.py) read end-to-end: 20k deterministic
    synthetic packets generated partition-parallel on executors,
    aggregated per protocol.  The DuckDB oracle recomputes the same
    aggregates from range() arithmetic, so range-split or type bugs in
    the connector break the hash."""
    from chronicle_sniffer_spark.sources.packet_source import register

    register(spark)
    pkts = spark.read.format("synth_packets").option("n", 20000).option("parts", 8).load()
    return pkts.groupBy("proto").agg(
        F.count("*").alias("n"),
        F.sum("length").alias("total_len"),
        F.min("pkt_id").alias("first_id"),
        F.max("pkt_id").alias("last_id"),
    )
