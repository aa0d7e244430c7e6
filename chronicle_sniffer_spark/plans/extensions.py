"""Catalog entries: UDF surface (U1-U6), log-metric extraction
(R27/R28), text-analysis functions (L4 extensions).

R27/R28 are made oracle-checkable by synthesizing the reference's log
lines deterministically FROM the shared events table inside the query
(both engines build identical strings), then parsing them back with
regexp_extract and aggregating — the exact shape of the reference's
log-based metrics (terraform/main.tf:238-548) and MQL dashboard aggs
(dashboards/main_operational_dashboard.json:30-38,318-334).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.functions import text as TX
from chronicle_sniffer_spark.functions.timestamps import (
    parse_capture_ts,
    parse_capture_ts_pandas,
    parse_capture_ts_udf,
)
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# U-series
# ---------------------------------------------------------------------------


def _ts_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tshark-format timestamp strings built from orders."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(
            F.date_format("o_orderdate", "MMM d, yyyy HH:mm:ss"),
            F.lit("."),
            F.lpad((F.col("o_orderkey") % 1000000).cast("string"), 6, "0"),
        ).alias("ts_str"),
    )


@query("u1_u2_udf_parity", section="U1/U2", oracle="SELECT CAST(1 AS BOOLEAN) AS parity")
def u1_u2_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native chain vs row-UDF vs pandas-UDF timestamp parse: all three
    agree on every row (ref R13 semantics)."""
    ts = _ts_strings(spark, sf_dir)
    parsed = ts.select(
        parse_capture_ts(F.col("ts_str")).alias("native"),
        parse_capture_ts_udf("ts_str").alias("via_udf"),
        parse_capture_ts_pandas("ts_str").alias("via_pandas"),
    )
    mismatches = parsed.filter(
        ~(F.col("native").eqNullSafe(F.col("via_udf")))
        | ~(F.col("native").eqNullSafe(F.col("via_pandas")))
    ).count()
    return spark.createDataFrame([(mismatches == 0,)], "parity boolean")


@query(
    "u3_grouped_map",
    section="U3",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def u3_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-user stats == plain SQL aggregation."""
    from chronicle_sniffer_spark.functions.udfs import user_stats_grouped_map

    return user_stats_grouped_map(load_table(spark, sf_dir, "events"))


@query(
    "u4_weighted_avg_udaf",
    section="U4",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def u4_weighted_avg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price via a pandas GROUPED_AGG UDAF."""
    from chronicle_sniffer_spark.functions.udfs import weighted_avg

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 2).alias("wavg_price")
    )


@query(
    "u5_udtf_split",
    section="U5",
    oracle="""
    SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos, words[t.i] AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 10),
         unnest(generate_series(1, len(words))) AS t(i)
    """,
)
def u5_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row → many): tokenize documents positionally."""
    from chronicle_sniffer_spark.functions.udfs import register_udtf

    register_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT s.doc_id, s.pos, s.word FROM documents d,"
        " LATERAL split_words(d.doc_id, d.text) s WHERE d.doc_id < 10"
    )


@query(
    "u6_sql_registration",
    section="U6",
    oracle="""
    SELECT c_custkey, upper(reverse(c_mktsegment)) AS seg_rev
    FROM customer WHERE c_custkey < 50
    """,
)
def u6_sql_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDF registered and invoked from SQL text."""
    from chronicle_sniffer_spark.functions.udfs import register_sql_udfs

    register_sql_udfs(spark)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        "SELECT c_custkey, py_rev_upper(c_mktsegment) AS seg_rev"
        " FROM customer WHERE c_custkey < 50"
    )


# ---------------------------------------------------------------------------
# R27/R28 — log-based metrics & dashboard aggregations
# ---------------------------------------------------------------------------

_LOG_LINE_SQL = (
    "concat('PROCESSING_DURATION_SECONDS: ', CAST(value AS STRING),"
    " ' FILE: capture_', CAST(event_id % 20 AS STRING), '.pcap')"
)
_LOG_LINE_DUCK = (
    "concat('PROCESSING_DURATION_SECONDS: ', CAST(value AS VARCHAR),"
    " ' FILE: capture_', CAST(event_id % 20 AS VARCHAR), '.pcap')"
)


@query(
    "r27_log_metric_extraction",
    section="R27",
    oracle=f"""
    WITH logs AS (SELECT {_LOG_LINE_DUCK} AS line FROM events),
    parsed AS (
      SELECT CAST(regexp_extract(line, 'PROCESSING_DURATION_SECONDS: ([0-9.]+)', 1) AS DOUBLE)
               AS duration,
             regexp_extract(line, 'FILE: ([^ ]+)', 1) AS file
      FROM logs
    )
    SELECT file,
           count(*) AS n,
           CASE WHEN duration > 0
                THEN CAST(floor(ln(duration) / ln(1.5)) AS BIGINT)
                END AS bucket
    FROM parsed GROUP BY file, bucket
    """,
)
def r27_log_metric_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex metric extraction from log lines + the reference's
    exponential latency histogram (growth 1.5, terraform/main.tf:540-547).

    Non-positive durations bucket as NULL EXPLICITLY on both sides:
    Spark's log(0) quietly returns null while DuckDB's ln(0) raises —
    a zero-valued metric at sf0.1 is exactly the cross-SF-sweep class
    of divergence (CROSS_SF_r10.json caught it; sf0.01 has no zero)."""
    ev = load_table(spark, sf_dir, "events")
    logs = ev.select(F.expr(_LOG_LINE_SQL).alias("line"))
    parsed = logs.select(
        F.regexp_extract("line", r"PROCESSING_DURATION_SECONDS: ([0-9.]+)", 1)
        .cast("double")
        .alias("duration"),
        F.regexp_extract("line", r"FILE: ([^ ]+)", 1).alias("file"),
    )
    bucket = F.when(
        F.col("duration") > 0, F.floor(F.log("duration") / F.log(F.lit(1.5)))
    ).alias("bucket")
    return parsed.groupBy("file", bucket).agg(F.count("*").alias("n"))


@query(
    "r28_dashboard_aggs",
    section="R28",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS w_start,
           count(*) AS n,
           round(count(*) / 60.0, 6) AS rate_per_sec,
           max(value) AS max_value,
           round(quantile_cont(value, 0.95), 4) AS p95_value
    FROM events GROUP BY 1
    """,
)
def r28_dashboard_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's ALIGN_RATE / REDUCE_MAX / ALIGN_PERCENTILE_95
    shapes as one 60 s windowed aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.count("*") / 60.0, 6).alias("rate_per_sec"),
            F.max("value").alias("max_value"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "rate_per_sec", "max_value", "p95_value")
    )


# ---------------------------------------------------------------------------
# L4 extensions — language ID, quality, fingerprints, SimHash
# ---------------------------------------------------------------------------


@query(
    "l4_lang_quality",
    section="L4",
    oracle="""
    SELECT doc_id,
           CASE WHEN len(list_filter(string_split(text,' '), w -> w IN ('the','and','of','is'))) > 0
                THEN 'en' ELSE 'und' END AS lang_guess_simple,
           round(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio
    FROM documents
    """,
)
def l4_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-marker heuristic + punctuation ratio (quality-score
    components; full composite in functions/text.py, golden-tested)."""
    d = load_table(spark, sf_dir, "documents")
    en_hits = F.size(F.expr("filter(split(text,' '), w -> w IN ('the','and','of','is'))"))
    return d.select(
        "doc_id",
        F.when(en_hits > 0, "en").otherwise("und").alias("lang_guess_simple"),
        TX.punct_ratio(F.col("text")).alias("punct_ratio"),
    )


@query(
    "l4_fingerprint",
    section="L4",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS t
      FROM documents
    ),
    tokbits AS (
      SELECT doc_id, b.i AS bit,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(md5(t), (b.i // 4) + 1, 1)) - 1)
                        >> (b.i % 4)) & 1 = 1
                  THEN 1 ELSE -1 END AS v
      FROM toks, (SELECT unnest(generate_series(0, 62)) AS i) b
    ),
    fps AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS fp
      FROM (SELECT doc_id, bit, SUM(v) AS s FROM tokbits GROUP BY doc_id, bit)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           md5(lower(regexp_replace(d.text, '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS fingerprint,
           fps.fp AS simhash
    FROM documents d LEFT JOIN fps ON d.doc_id = fps.doc_id
    """,
)
def l4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint + SimHash near-dup signature per document,
    in the md5 forms DuckDB recomputes bit-for-bit (was rows-only on
    xxhash64, which is Spark-specific; the xxhash64 variants remain in
    functions/text.py for throughput-first jobs, golden-tested).  The
    fingerprint is md5 over whitespace-normalized lowercased text; the
    signature is the operators/simhash.py 63-bit fingerprint (one md5
    per token, codegen nibble fold, partial-aggregated vote sums)."""
    from chronicle_sniffer_spark.operators.simhash import simhash_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = simhash_fingerprints(d.select("doc_id", "text"))
    return d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", "[ \\t\\n\\r\\f]+", " "))).alias("fingerprint"),
    ).join(fps.select("doc_id", F.col("fp").alias("simhash")), "doc_id", "left")
