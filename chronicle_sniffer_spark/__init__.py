"""chronicle_sniffer_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference pipeline
``fillol/chronicle-sniffer`` (network-capture ETL → UDM events),
extended with the batch/streaming analytics and LLM-data-pipeline
operator surface declared in SURVEY.md §2B.

Layout:
    session      SparkSession factory (local[$SPARK_GRAFT_CPUS] or cluster)
    schemas      tshark raw schema, UDM StructType, testdata schemas
    tables       testdata loaders + temp-view registration
    udm          the UDM projection core (reference json2udm semantics)
    operators/   joins (as-of/range), dedup, similarity, text analysis
    sources/     json/pcap/queue ingestion
    functions/   scalar expression helpers (timestamps, hex, histograms)
    plans/       the declared query catalog (Spark + DuckDB-oracle SQL)
    streaming/   structured-streaming wrappers (windows, dedup, DLQ)
"""

__version__ = "0.1.0"
