"""Training-data curation operators beyond dedup: PII scrubbing,
deterministic stratified sampling, sequence packing, and source-mix
weighting (the L4/L6 family of SURVEY §2B's LLM-pipeline extension).

Every operator here is a pure column-expression plan with a DuckDB
oracle.  Determinism rules (plans/catalog.py docstring) apply: no
RNGs — sampling uses a Lehmer multiplicative hash on the key so both
engines (and every cluster re-run) pick identical rows; integer SUMs
are cast to BIGINT; no DateType outputs.

Scale shapes (100 TB):
- PII scrub: narrow per-row regex work, no shuffle; regexes are
  RE2/Java-regex common-subset so they push to any engine.
- stratified sample: per-row hash + filter, no shuffle; rates are a
  broadcastable literal map.
- sequence packing: one window per (source) partition — cumulative
  token sums parallelize across sources; no global ordering.
- mix weights: one groupBy plus a scalar total — the classic
  two-stage agg with a broadcast of the single total row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import query, sql_query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# L4: PII scrubbing
# ---------------------------------------------------------------------------

# RE2- and Java-regex-compatible patterns (no lookaround, no \b needed)
_PAT_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PAT_IP = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
_PAT_NUM = "[0-9]{5,}"


@query(
    "l4_pii_scrub",
    section="L4",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com from 10.0.'
                               || CAST(doc_id % 200 AS VARCHAR) || '.7 ref 9934412'
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PAT_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PAT_IP}')) AS INTEGER) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(
                 text, '{_PAT_EMAIL}', '<EMAIL>', 'g'),
                 '{_PAT_IP}', '<IP>', 'g'),
                 '{_PAT_NUM}', '<NUM>', 'g')) AS scrub_md5
    FROM aug
    """,
)
def l4_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails, IPv4 literals, and long digit runs are
    replaced by typed placeholders; counts surface per document and
    the scrubbed text is hash-checked (md5) against the oracle.

    The corpus is synthetic word salad with no PII, so the query first
    plants deterministic PII in every third document (same expression
    in both engines) — the scrub is then provably non-vacuous: 1/3 of
    rows must report n_emails=1, n_ips=1 and a changed md5."""
    aug = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com from 10.0."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".7 ref 9934412"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PAT_EMAIL, "<EMAIL>"),
            _PAT_IP,
            "<IP>",
        ),
        _PAT_NUM,
        "<NUM>",
    )
    # column API, not F.expr: SQL string literals eat the backslash in
    # '\.' (escapedStringLiterals=false), silently turning the dot wild
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PAT_EMAIL), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PAT_IP), 0)).cast("int").alias("n_ips"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


# ---------------------------------------------------------------------------
# L6: deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-mille keep rates per language stratum (down-sample dominant en,
# keep low-resource langs whole — the standard data-mixing move)
SAMPLE_RATES = {"en": 250, "de": 500, "fr": 500, "es": 750, "zh": 1000}
_LEHMER_A, _LEHMER_M = 48271, 2147483647


def _rate_case_sql() -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    return f"CASE lang {whens} ELSE 0 END"


# Per-language stratified sample with a Lehmer multiplicative
# hash on doc_id as the acceptance test — deterministic (re-runs and
# both engines select identical rows), seedless, and pure per-row
# arithmetic: no shuffle, no RNG state, products bounded well inside
# BIGINT for any realistic id space.
sql_query(
    "l6_stratified_sample",
    section="L6",
    text=f"""
    SELECT doc_id, lang
    FROM {{documents}}
    WHERE (doc_id * {_LEHMER_A}) % {_LEHMER_M} % 1000 < ({_rate_case_sql()})
    """,
)


# ---------------------------------------------------------------------------
# L6: sequence packing
# ---------------------------------------------------------------------------

CTX_LEN = 512


@query(
    "l6_sequence_packing",
    section="L6",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    binned AS (
      SELECT source, doc_id, n_tok,
             CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        * 1.0 / {CTX_LEN}) AS INTEGER) AS bin_id
      FROM toks
    )
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM binned GROUP BY source, bin_id
    """,
)
def l6_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents stream in doc_id
    order within each source, the exclusive running token count
    divided by CTX_LEN assigns each doc to a context-window bin, and
    bins aggregate to packing stats.  Per-source windows keep the
    cumulative sum parallel across sources — there is no global
    ordering anywhere, which is what makes this shape survive 100 TB
    (one shuffle on source for the window, one partial agg)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # explicit floor on both sides: DuckDB CAST(x AS INTEGER) rounds
    # half-away while Spark's cast truncates
    binned = d.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / CTX_LEN).cast("int"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# L6: source-mix weighting
# ---------------------------------------------------------------------------


@query(
    "l6_mix_weights",
    section="L6",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, src_tokens,
           round(src_tokens * 1.0 / SUM(src_tokens) OVER (), 6) AS token_share,
           round((SUM(src_tokens) OVER () * 1.0 / COUNT(*) OVER ())
                 / src_tokens, 6) AS equal_mix_weight
    FROM per_source
    """,
)
def l6_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing weights: per-source token counts, each source's
    share of the corpus, and the up/down-sampling weight that would
    equalize source contributions — the bookkeeping step before
    weighted sampling in a data-mixing pipeline.  One groupBy shuffle;
    the corpus total is a single broadcast row (window over ())."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("src_tokens"),
    )
    w = Window.partitionBy()
    return per.select(
        "source",
        "n_docs",
        "src_tokens",
        F.round(F.col("src_tokens") / F.sum("src_tokens").over(w), 6).alias("token_share"),
        F.round(
            (F.sum("src_tokens").over(w) / F.count("*").over(w)) / F.col("src_tokens"), 6
        ).alias("equal_mix_weight"),
    )
