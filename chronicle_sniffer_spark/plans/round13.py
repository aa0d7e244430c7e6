"""Round-13 catalog additions (SURVEY.md §2B growth).

Families this round:

- g13_degree_cap_audit — the dropped-wedge exposure report for the
  degree-capped common-neighbor candidate generation (round-12
  verdict's named gap: g13 promised a cap it didn't implement; the
  cap now exists and this entry is its honesty twin, the
  l2_ngram_df_cap_audit pattern applied to the graph family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _ORACLE_GRAMS_CTE,
    shared_pairs_and_labels,
)
from chronicle_sniffer_spark.operators.graph import G13_DEG_CAP
from chronicle_sniffer_spark.operators.html import _DENSITY_PCT, HTML_PAGE_SQL, _block_cte
from chronicle_sniffer_spark.operators.quality import (
    MAX_SYMBOL_RATIO,
    MEAN_WL_HI,
    MEAN_WL_LO,
    MIN_WORDS,
)
from chronicle_sniffer_spark.operators.sketches import KMV_K, _LEHMER_A, _LEHMER_M, _kmv_ranked
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.sources.warc import _warc_dir
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# G13 audit: dropped-wedge exposure of the degree cap
# ---------------------------------------------------------------------------

_G13AUDIT_ORACLE = f"""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    cdeg AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY c)
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN d > {G13_DEG_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot,
           CAST(max(d) AS BIGINT) AS max_deg,
           CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS wedges_total,
           CAST(sum((least(d, {G13_DEG_CAP}) * (least(d, {G13_DEG_CAP}) - 1)) // 2)
             AS BIGINT) AS wedges_kept,
           CAST(sum((d * (d - 1)) // 2
                - (least(d, {G13_DEG_CAP}) * (least(d, {G13_DEG_CAP}) - 1)) // 2)
             AS BIGINT) AS wedges_dropped
    FROM cdeg
"""


@query("g13_degree_cap_audit", section="G2", oracle=_G13AUDIT_ORACLE)
def g13_degree_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure report for g13's degree cap — the honesty twin every
    capped index needs (the l2_ngram_df_cap_audit pattern): per-corpus
    counts of hot customers (degree > {CAP}), the wedge volume the cap
    admits vs drops, and the max degree.  A pair can be MISSED by the
    capped candidate generation only via dropped wedges, and only if
    ALL its shared customers are hot — so ``wedges_dropped = 0`` is a
    proof of exactness for the corpus, and a small ratio bounds the
    exposure.  The wedge counts are the literal join-volume numbers:
    ``wedges_kept`` is work the capped g13 does, ``wedges_total`` is
    what the uncapped form would have done (the quantity that explodes
    as Σ_c deg(c)² on power-law graphs).

    Spark shapes: one edge distinct + one customer-keyed agg + one
    global fold; every count is exact int64 (DuckDB's BIGINT sums
    promote to HUGEINT, so the oracle casts each sum back — the
    documented int64 contract)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    cdeg = e.groupBy("c").agg(F.count("*").cast("bigint").alias("d"))
    kept = f"(least(d, {G13_DEG_CAP}) * (least(d, {G13_DEG_CAP}) - 1)) div 2"
    return cdeg.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("d") > G13_DEG_CAP, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hot"),
        F.max("d").cast("bigint").alias("max_deg"),
        F.sum(F.expr("(d * (d - 1)) div 2")).cast("bigint").alias("wedges_total"),
        F.sum(F.expr(kept)).cast("bigint").alias("wedges_kept"),
        F.sum(F.expr(f"(d * (d - 1)) div 2 - ({kept})"))
        .cast("bigint")
        .alias("wedges_dropped"),
    )


g13_degree_cap_audit.__doc__ = g13_degree_cap_audit.__doc__.format(
    CAP=G13_DEG_CAP
)


# ---------------------------------------------------------------------------
# S20: WARC record-type / charset-damage accounting
# ---------------------------------------------------------------------------


def _s20mix_oracle() -> str:
    from chronicle_sniffer_spark.sources.warc import (
        BMP_MOD,
        LATIN1_MOD,
        METADATA_MOD,
        MISDECLARED_ERRORS,
        MISDECLARED_MOD,
        REQUEST_MOD,
        REVISIT_MOD,
        WAV_MOD,
    )

    return f"""
    WITH d AS (SELECT doc_id FROM documents)
    SELECT 'metadata' AS warc_type,
           CAST((SELECT count(*) FROM d WHERE doc_id % {METADATA_MOD} = 0)
             AS BIGINT) AS n_records,
           CAST(0 AS BIGINT) AS n_http_200,
           CAST(0 AS BIGINT) AS decode_errors_total
    UNION ALL
    SELECT 'request',
           CAST((SELECT count(*) FROM d WHERE doc_id % {REQUEST_MOD} = 0)
             AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'response',
           CAST((SELECT count(*) FROM d)
              + (SELECT count(*) FROM d WHERE doc_id % {LATIN1_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {MISDECLARED_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {BMP_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {WAV_MOD} = 0)
             AS BIGINT),
           CAST((SELECT count(*) FROM d)
              + (SELECT count(*) FROM d WHERE doc_id % {LATIN1_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {MISDECLARED_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {BMP_MOD} = 0)
              + (SELECT count(*) FROM d WHERE doc_id % {WAV_MOD} = 0)
             AS BIGINT),
           CAST({MISDECLARED_ERRORS}
              * (SELECT count(*) FROM d WHERE doc_id % {MISDECLARED_MOD} = 0)
             AS BIGINT)
    UNION ALL
    SELECT 'revisit',
           CAST((SELECT count(*) FROM d WHERE doc_id % {REVISIT_MOD} = 0)
             AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    """


@query("s20_warc_record_mix", section="S2", oracle=_s20mix_oracle())
def s20_warc_record_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-type + decode-damage accounting over the FULL container
    scan — the bookkeeping a 100 TB ingest runs before anything else:
    how many records of each WARC type arrived, how many carried an
    HTTP 200, and how much charset damage the decode absorbed.  The
    fixture interleaves request/metadata/revisit records with the
    responses on deterministic doc_id grids, ships a correctly-declared
    latin-1 page class AND a latin-1-bytes-declared-utf-8 class
    (sources/warc.py) — the oracle re-derives every count from the
    documents table and pins ``decode_errors_total`` to exactly
    MISDECLARED_ERRORS × |mis-declared class|: a decoder that
    silently mangles (or silently heals) non-UTF-8 bytes hash-fails
    here.

    Spark shapes: the per-file member decode → one warc_type-keyed
    partial agg; nothing else."""
    from chronicle_sniffer_spark.sources.warc import read_warc

    recs = read_warc(spark, _warc_dir(spark, sf_dir))
    return recs.groupBy("warc_type").agg(
        F.count("*").cast("bigint").alias("n_records"),
        F.sum(F.when(F.col("http_status") == 200, 1).otherwise(0))
        .cast("bigint")
        .alias("n_http_200"),
        F.sum("decode_errors").cast("bigint").alias("decode_errors_total"),
    )


# ---------------------------------------------------------------------------
# A24b: KMV distinct sketch, production (sketch-only) variant
# ---------------------------------------------------------------------------


def _a24b_oracle() -> str:

    return f"""
    WITH d AS (
      SELECT DISTINCT o_orderpriority,
             (o_custkey * {_LEHMER_A}) % {_LEHMER_M} AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
      FROM d
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sketch,
           CAST(max(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT) AS kth_min,
           round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
                      ELSE ({KMV_K} - 1) * CAST({_LEHMER_M} AS DOUBLE)
                           / CAST(max(CASE WHEN rn = {KMV_K} THEN h END)
                                  AS DOUBLE) END, 6) AS kmv_est
    FROM ranked WHERE rn <= {KMV_K}
    GROUP BY o_orderpriority
    """


@query("a24b_kmv_production", section="A3", oracle=_a24b_oracle())
def a24b_kmv_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch as a 100 TB job actually runs it — SKETCH ONLY:
    a24_kmv_distinct declares n_exact in its output for the oracle's
    benefit, and the round-12 sf10 spot showed exactly that branch
    (count distinct over 15M orders) dominating its wall at 5.64×.
    This variant drops it: per-batch pre-shuffle K-minima caps
    (nothing bigger than K rows per (group, batch) ever crosses the
    exchange), dedup, window-rank, ONE sketch-sized agg.  Groups with
    fewer than K distinct keys report their sketch size as the exact
    count (KMV is exact below K by construction: n_sketch < K means
    the sketch IS the distinct set).  The a24 merge-equivalence
    pytest remains the correctness anchor for the cap; the oracle
    here recomputes the same K-minima from scratch — the GATE pays
    the exact-distinct cost, the production plan never does."""

    _, ranked = _kmv_ranked(spark, sf_dir)
    sk = ranked.filter(F.col("rn") <= KMV_K)
    return sk.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_sketch"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h")))
        .cast("bigint")
        .alias("kth_min"),
    ).select(
        "o_orderpriority",
        "n_sketch",
        "kth_min",
        F.round(
            F.when(
                F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double")
            ).otherwise(
                F.lit(KMV_K - 1)
                * F.lit(float(_LEHMER_M))
                / F.col("kth_min").cast("double")
            ),
            6,
        ).alias("kmv_est"),
    )


# ---------------------------------------------------------------------------
# L6: the full crawl funnel, composed from container bytes
# ---------------------------------------------------------------------------

CRAWL_MIX_A, CRAWL_MIX_M = 16807, 2147483647  # l6_hash_split's Lehmer
CRAWL_TRAIN_PCT = 80


def _crawl_funnel_oracle() -> str:

    block = _block_cte().replace("WITH pages", "pages", 1)
    return f"""
    WITH RECURSIVE {block},
    agg AS (
      SELECT doc_id,
             string_agg(CASE WHEN kept THEN text END, ' ' ORDER BY pos) AS text
      FROM nonempty GROUP BY doc_id
    ),
    ext AS (
      SELECT c.doc_id, coalesce(a.text, '') AS text
      FROM clean c LEFT JOIN agg a ON a.doc_id = c.doc_id
    ),
    {_ORACLE_GRAMS_CTE},
    dpairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6)
            >= {JACCARD_THRESHOLD}
    ),
    e2 AS (SELECT doc_a AS s, doc_b AS t FROM dpairs
           UNION SELECT doc_b, doc_a FROM dpairs),
    reach(s, t) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e2)
      UNION
      SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
    ),
    labels AS (SELECT s AS doc_id, min(t) AS label FROM reach GROUP BY s),
    cont AS (
      SELECT doc_id,
             CAST(len(string_split(html, ' ')) AS BIGINT) AS n_tokens
      FROM pages
    ),
    sig AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             len(string_split(text, ' ')) AS n_words,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS mean_word_len,
             round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
                   / length(text), 6) AS symbol_ratio
      FROM ext
    ),
    s2 AS (SELECT * FROM sig
           WHERE n_words >= {MIN_WORDS}
             AND mean_word_len BETWEEN {MEAN_WL_LO} AND {MEAN_WL_HI}
             AND symbol_ratio < {MAX_SYMBOL_RATIO}),
    s3 AS (SELECT s2.* FROM s2
           JOIN (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)) k
             ON k.doc_id = s2.doc_id),
    s4 AS (SELECT s3.* FROM s3 LEFT JOIN labels l ON l.doc_id = s3.doc_id
           WHERE l.doc_id IS NULL OR l.label = s3.doc_id),
    s5 AS (SELECT * FROM s4
           WHERE (doc_id * {CRAWL_MIX_A}) % {CRAWL_MIX_M} % 100
                 < {CRAWL_TRAIN_PCT})
    SELECT * FROM (
      SELECT '0_container' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM cont
      UNION ALL
      SELECT '1_html_extract', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM sig
      UNION ALL
      SELECT '2_c4_gate', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_exact_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s3
      UNION ALL
      SELECT '4_near_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s4
      UNION ALL
      SELECT '5_train_mix', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s5
    )
    """


@query("l6_crawl_funnel", section="L6", oracle=_crawl_funnel_oracle())
def l6_crawl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB crawl pipeline END-TO-END from container bytes, as
    ONE composed plan with per-stage doc/token accounting — the demo
    the repo has been building toward: every stage below exists as a
    standalone oracle-checked entry, and this entry is their literal
    composition (the reconciliation pytest recomputes each stage from
    the standalone operators):

      0_container    WARC members → records, charset-decoded (s20)
      1_html_extract boilerplate-dropped training text (l4_html_extract)
      2_c4_gate      C4 quality gate ON THE EXTRACTED TEXT (l4_c4)
      3_exact_dedup  md5 keep-min within the gated set (l1_exact_dedup)
      4_near_dedup   n-gram Jaccard CC canonical filter — reads the
                     session-materialized cluster table
                     (l2_dedup_clusters' shared_pairs_and_labels, the
                     production shape: dedup once, many consumers)
      5_train_mix    deterministic Lehmer hash split, train slice
                     (l6_hash_split)

    No silent shrinkage: every stage's doc and token cost is a row.
    The oracle nests the WHOLE chain — HTML block extraction, C4
    signals, hash dedup, the recursive-CTE near-dup closure, and the
    split arithmetic — in one DuckDB query.

    Spark shapes: binaryFile → per-file member decode → spread() →
    codegen regex extraction, all executed ONCE — the naive 6-branch
    union re-derived the container decode + regex extract subtree per
    stage (34 binaryFile scans in one physical plan, measured); this
    form computes a single per-doc flags frame instead.  Stage
    membership is a chain of monotone booleans: the C4 gate is a
    per-row expression, the exact dedup's keep-min is a window over
    the md5 partition (text projected away BEFORE that narrow
    shuffle), the near-dup filter a broadcast left join against the
    small non-canonical label set, the split a hash expression.  ONE
    global aggregate then emits every stage's count/token pair and a
    6-row stack unpivots it — the whole funnel is one pass over the
    containers plus one narrow shuffle."""
    from chronicle_sniffer_spark.operators.html import html_extract
    from chronicle_sniffer_spark.sources.warc import read_warc
    from chronicle_sniffer_spark.tables import spread

    recs = read_warc(spark, _warc_dir(spark, sf_dir))
    main = recs.filter(
        (F.col("warc_type") == "response")
        & F.col("target_uri").rlike(r"/doc/\d+$")
    ).select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("text").alias("html"),
    )
    from pyspark.sql import Window as W

    # ONE container decode: the extractor forks its input (blocks +
    # titles) and stage 0 reads the raw html too — checkpoint the
    # decoded members so the Python-boundary decode never re-runs
    main = spread(main).localCheckpoint(eager=True)
    cont = main.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("html", " ")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    ).select(F.lit("0_container").alias("stage"), "n_docs", "n_tokens")
    ext = html_extract(main, max_density_pct=_DENSITY_PCT).select(
        "doc_id", "text"
    )
    n_words = F.size(F.split("text", " "))
    sig = ext.select(
        "doc_id",
        n_words.cast("bigint").alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        (
            (n_words >= MIN_WORDS)
            & F.round(
                F.length(F.regexp_replace("text", " ", "")) * 1.0 / n_words, 6
            ).between(MEAN_WL_LO, MEAN_WL_HI)
            & (
                F.round(
                    F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
                    * 1.0
                    / F.length("text"),
                    6,
                )
                < MAX_SYMBOL_RATIO
            )
        ).alias("p2"),
    )
    # exact dedup as a window instead of a groupBy+semi-join: keep-min
    # over the md5 partition of GATED rows — the text column is already
    # projected away, so the one shuffle here carries five narrow cols
    keep_min = F.min(F.when(F.col("p2"), F.col("doc_id"))).over(
        W.partitionBy("h")
    )
    flags = sig.withColumn(
        "p3", F.col("p2") & (F.col("doc_id") == keep_min)
    )
    _, labels = shared_pairs_and_labels(spark, sf_dir)
    noncanon = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("nc")
    )
    flags = flags.join(F.broadcast(noncanon), "doc_id", "left").select(
        "n_tokens",
        "p2",
        (F.col("p3") & F.col("nc").isNull()).alias("p4"),
        (
            F.col("p3")
            & F.col("nc").isNull()
            & (
                (F.col("doc_id") * CRAWL_MIX_A) % CRAWL_MIX_M % 100
                < CRAWL_TRAIN_PCT
            )
        ).alias("p5"),
        "p3",
    )

    def pair(cond, tok):  # (n_docs, n_tokens) for one stage
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint"),
            F.sum(F.when(cond, tok)).cast("bigint"),
        ]

    t = F.lit(True)
    agg = flags.agg(
        *(
            pair(t, F.col("n_tokens"))
            + pair(F.col("p2"), F.col("n_tokens"))
            + pair(F.col("p3"), F.col("n_tokens"))
            + pair(F.col("p4"), F.col("n_tokens"))
            + pair(F.col("p5"), F.col("n_tokens"))
        )
    )
    cols = agg.columns
    stages = [
        "1_html_extract",
        "2_c4_gate",
        "3_exact_dedup",
        "4_near_dedup",
        "5_train_mix",
    ]
    stack_args = ", ".join(
        f"'{s}', `{cols[2 * i]}`, `{cols[2 * i + 1]}`"
        for i, s in enumerate(stages)
    )
    return cont.unionByName(
        agg.selectExpr(f"stack(5, {stack_args}) AS (stage, n_docs, n_tokens)")
    )


# ---------------------------------------------------------------------------
# S22: CDX offset read — the targeted-access production path
# ---------------------------------------------------------------------------

S22_PICK_MOD = 13  # read only doc_id % 13 == 0 through the offset index


def _cdx_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialized CDX parquet: the index is derived ONCE per session
    (production: written at crawl time) and every targeted read after
    that is a parquet scan + ranged member fetches."""
    from chronicle_sniffer_spark.sources.warc import build_cdx

    def build() -> str:
        out = session_tmpdir("css_cdx_")
        build_cdx(spark, _warc_dir(spark, sf_dir)).write.mode("overwrite").parquet(
            out
        )
        return out

    return session_memo(spark, ("s22_cdx", os.path.abspath(sf_dir)), build)


def _s22_oracle() -> str:

    return f"""
    WITH pages AS (
      SELECT doc_id, {HTML_PAGE_SQL} AS html FROM documents
      WHERE doc_id % {S22_PICK_MOD} = 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(200 AS INTEGER) AS http_status,
           CAST(length(html) AS BIGINT) AS payload_len,
           md5(html) AS payload_md5
    FROM pages
"""


@query("s22_cdx_offset_read", section="S2", oracle=_s22_oracle())
def s22_cdx_offset_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted crawl access through the CDX offset index — how a
    consumer fetches SPECIFIC pages from a 100 TB snapshot without
    scanning it: filter the (file, offset, length) index frame (this
    filter IS the member pruning — Catalyst prunes the parquet scan,
    and the fetch stage's input bytes are exactly Σ selected lengths),
    then seek/read/decompress each selected member independently
    (every member is its own gzip stream; no whole-file
    materialization, so the binaryFile 2 GiB ceiling never applies).
    The oracle rebuilds the same subset straight from the documents
    table: an offset that is even one byte off fails the member walk
    or the md5.

    The index itself is derived once per session by build_cdx (one
    sequential walk per container, parallel across files) and
    parquet-materialized — the production equivalent is the cdx-*.gz
    a crawler publishes next to its containers."""
    from chronicle_sniffer_spark.sources.warc import read_warc_cdx

    cdx = spark.read.parquet(_cdx_path(spark, sf_dir))
    picked = cdx.filter(
        (F.col("warc_type") == "response")
        & F.col("target_uri").rlike(r"/doc/\d+$")
        & (
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("bigint")
            % S22_PICK_MOD
            == 0
        )
    )
    recs = read_warc_cdx(picked)
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("http_status").cast("int").alias("http_status"),
        F.length("text").cast("bigint").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
    )


# ---------------------------------------------------------------------------
# ML26: isotonic calibration (pool-adjacent-violators via minimax)
# ---------------------------------------------------------------------------

ML26_BINS = 100

_ML26_ORACLE = f"""
    WITH scored AS (
      SELECT (lang = 'en') AS label,
             0.5 + 0.5 * ((n_chars - 300) / 80.0)
                       / (1 + abs((n_chars - 300) / 80.0)) AS p
      FROM documents
    ),
    bins AS (
      SELECT CAST(least(floor(p * {ML26_BINS}), {ML26_BINS - 1}) AS INT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS o
      FROM scored GROUP BY 1
    ),
    pre AS (
      SELECT b, n, o,
             CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS cn,
             CAST(sum(o) OVER (ORDER BY b) AS BIGINT) AS co
      FROM bins
    ),
    seg AS (
      SELECT i.b AS i, j.b AS j,
             CAST(j.co - i.co + i.o AS DOUBLE)
               / CAST(j.cn - i.cn + i.n AS DOUBLE) AS v
      FROM pre i JOIN pre j ON j.b >= i.b
    ),
    mn AS (
      SELECT seg.i, k.b AS k, min(seg.v) AS mv
      FROM seg JOIN bins k ON seg.i <= k.b AND seg.j >= k.b
      GROUP BY seg.i, k.b
    ),
    fit AS (SELECT k, max(mv) AS f FROM mn GROUP BY k)
    SELECT bins.b AS bin, bins.n, bins.o,
           round(CAST(bins.o AS DOUBLE) / CAST(bins.n AS DOUBLE), 6)
             AS emp_rate,
           round(fit.f, 6) AS isotonic_rate
    FROM bins JOIN fit ON fit.k = bins.b
"""


@query("ml26_isotonic_calibration", section="ML3", oracle=_ML26_ORACLE)
def ml26_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration — the nonparametric step after ml7's
    reliability diagram: fit the best MONOTONE step function to the
    per-bin empirical positive rates (pool-adjacent-violators).  PAV's
    sequential pooling has an exact closed form, the minimax identity
    fitted(k) = max_{{i≤k}} min_{{j≥k}} avg(o, i..j) — which turns the
    inherently sequential algorithm into three joins over the
    BIN-level table: O(B²) segment averages from prefix sums, O(B³)
    (i,k,j) membership (B = {B} bins → ≤10⁶ tiny rows, independent of
    corpus size), a min and a max.  The corpus-sized work is ONE
    bin-keyed partial agg; everything after operates on ≤B rows —
    exactly how calibration runs at 100 TB (the model is small, the
    data is not).

    Determinism: ml7's rational-sigmoid scorer (every op a correctly
    rounded IEEE primitive), segment averages are single int64→double
    divisions, min/max are comparisons (no accumulation) — both
    engines pick bit-identical values; round(…,6) only at output.
    Monotonicity of the fit is pytest-asserted."""
    d = load_table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 300) / 80.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))
    scored = d.select((F.col("lang") == "en").alias("label"), p.alias("p"))
    bins = (
        scored.select(
            F.least(F.floor(F.col("p") * ML26_BINS), F.lit(ML26_BINS - 1))
            .cast("int")
            .alias("b"),
            "label",
        )
        .groupBy("b")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("bigint")
            .alias("o"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = bins.select(
        "b",
        "n",
        "o",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("o").over(w).cast("bigint").alias("co"),
    )
    i = pre.select(
        F.col("b").alias("i"),
        F.col("n").alias("ni"),
        F.col("o").alias("oi"),
        F.col("cn").alias("cni"),
        F.col("co").alias("coi"),
    )
    j = pre.select(
        F.col("b").alias("j"), F.col("cn").alias("cnj"), F.col("co").alias("coj")
    )
    seg = i.join(F.broadcast(j), F.col("j") >= F.col("i")).select(
        "i",
        "j",
        (
            (F.col("coj") - F.col("coi") + F.col("oi")).cast("double")
            / (F.col("cnj") - F.col("cni") + F.col("ni")).cast("double")
        ).alias("v"),
    )
    k = bins.select(F.col("b").alias("k"))
    mn = (
        seg.join(
            F.broadcast(k), (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k"))
        )
        .groupBy("i", "k")
        .agg(F.min("v").alias("mv"))
    )
    fit = mn.groupBy("k").agg(F.max("mv").alias("f"))
    return (
        bins.join(fit, bins.b == fit.k)
        .select(
            F.col("b").alias("bin"),
            "n",
            "o",
            F.round(F.col("o").cast("double") / F.col("n").cast("double"), 6).alias(
                "emp_rate"
            ),
            F.round("f", 6).alias("isotonic_rate"),
        )
    )


ml26_isotonic_calibration.__doc__ = ml26_isotonic_calibration.__doc__.format(
    B=ML26_BINS
)


# ---------------------------------------------------------------------------
# ML27: Mann–Whitney U (rank-sum test, tie-corrected)
# ---------------------------------------------------------------------------

ML27_A, ML27_B = "1-URGENT", "5-LOW"
# Two-phase cumsum bucket width, in cents: TPC-H o_totalprice stays
# under ~$600k, so `cents div WIDTH` yields ≤ ~60 range buckets at any
# corpus size, and a SATURATED cents grid holds ≤ WIDTH distinct
# values per bucket — both phases stay bounded per task forever.
ML27_BUCKET_CENTS = 1_000_000

_ML27_ORACLE = f"""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '{ML27_A}' THEN 1 ELSE 0 END AS ga
      FROM orders
      WHERE o_orderpriority IN ('{ML27_A}', '{ML27_B}')
    ),
    v AS (
      SELECT cents,
             CAST(sum(ga) AS BIGINT) AS ca,
             CAST(count(*) AS BIGINT) AS t
      FROM s GROUP BY cents
    ),
    cum AS (
      SELECT cents, ca, t,
             CAST(coalesce(sum(t) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS before
      FROM v
    ),
    agg AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n1,
             CAST(sum(t - ca) AS BIGINT) AS n2,
             CAST(sum(ca * (2 * (before + 1) + t - 1)) AS BIGINT) AS r2a,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n1, n2,
           CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u2_a,
           round((CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                        * (CAST(n1 + n2 + 1 AS DOUBLE)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE)
                                * CAST(n1 + n2 - 1 AS DOUBLE)))), 6) AS z
    FROM agg
"""


@query("ml27_mann_whitney_u", section="ML3", oracle=_ML27_ORACLE)
def ml27_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U — the nonparametric two-sample test next to
    ml24's parametric Welch t: does one order-priority class
    stochastically dominate another's prices?  Rank-sum with AVERAGE
    ranks for ties and the tie-corrected normal approximation.

    Exactness strategy (the int64 contract): ranks are never computed
    per ROW — the distinct-value table (cents, counts) carries
    everything (the a4c two-phase-histogram idea), and tied average
    ranks are kept exact by working in HALF-RANK units: each member of
    a tie group of size t starting after `before` rows contributes
    2·avg_rank = 2·(before+1) + t − 1, an integer.  So r2a = 2·R_A and
    u2_a = 2·U_A are exact BIGINTs the oracle hash-compares; only the
    z-score touches doubles, with every factor cast from int64
    (correctly rounded in BOTH engines — never HUGEINT) and the
    expression written identically on both sides.

    Spark shapes: one cents-keyed partial agg (the only corpus-sized
    shuffle), then a TWO-PHASE distributed cumsum over the distinct-
    value table (the o16/a19 pattern — the round-13 verdict's #1:
    o_totalprice is near-unique in this corpus, so the distinct table
    is ~rows-sized until the cents grid saturates (~5.5×10⁷ values)
    and a global ORDER BY cents window would sort it all in ONE task):

    1. range-bucket by ``cents div {W}`` — deterministic, order-
       preserving, and bounded: TPC-H total prices live under ~$600k,
       so there are ≤ ~60 buckets at ANY corpus size and a saturated
       grid puts ≤ {W} distinct cents in each, capping per-task sort
       rows no matter the SF;
    2. per-bucket cumsum (window PARTITIONED by bucket);
    3. bucket offsets from the ≤60-row bucket-total aggregate — the
       only global window left runs over that, and the cardinality-
       aware audit now MEASURES it (~60 rows at every SF).

    ``before`` = bucket offset + within-bucket prefix, exactly the
    single-window value; the oracle keeps the plain SQL window form."""
    s = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(ML27_A, ML27_B))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            F.when(F.col("o_orderpriority") == ML27_A, 1)
            .otherwise(0)
            .alias("ga"),
        )
    )
    v = s.groupBy("cents").agg(
        F.sum("ga").cast("bigint").alias("ca"),
        F.count("*").cast("bigint").alias("t"),
    ).withColumn("bkt", F.expr(f"cents div {ML27_BUCKET_CENTS}"))
    from pyspark.sql import Window as W

    offs = (
        v.groupBy("bkt")
        .agg(F.sum("t").cast("bigint").alias("bt"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("bt").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("off"),
        )
    )
    w_in = (
        W.partitionBy("bkt").orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    )
    cum = (
        v.join(F.broadcast(offs), "bkt")
        .select(
            "ca",
            "t",
            (
                F.col("off")
                + F.coalesce(F.sum("t").over(w_in), F.lit(0)).cast("bigint")
            )
            .cast("bigint")
            .alias("before"),
        )
    )
    agg = cum.agg(
        F.sum("ca").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("ca")).cast("bigint").alias("n2"),
        F.sum(F.col("ca") * (2 * (F.col("before") + 1) + F.col("t") - 1))
        .cast("bigint")
        .alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u2 = (F.col("r2a") - F.col("n1") * (F.col("n1") + 1)).cast("bigint")
    return agg.select(
        "n1",
        "n2",
        u2.alias("u2_a"),
        F.round(
            (u2.cast("double") / 2 - n1d * n2d / 2)
            / F.sqrt(
                n1d
                * n2d
                / 12.0
                * (
                    (F.col("n1") + F.col("n2") + 1).cast("double")
                    - F.col("tie3").cast("double")
                    / (nd * (F.col("n1") + F.col("n2") - 1).cast("double"))
                )
            ),
            6,
        ).alias("z"),
    )


ml27_mann_whitney_u.__doc__ = ml27_mann_whitney_u.__doc__.format(
    W=ML27_BUCKET_CENTS
)


# ---------------------------------------------------------------------------
# TS25: SAX symbolization (PAA + rank-quartile alphabet)
# ---------------------------------------------------------------------------

SAX_W = 4  # PAA window: 4 consecutive days per segment
SAX_ALPHA = 4  # alphabet size (quartiles → 'a'..'d')

_TS25_ORACLE = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, n,
             row_number() OVER (PARTITION BY event_type ORDER BY d) - 1 AS i
      FROM daily
    ),
    paa AS (
      SELECT event_type, i // {SAX_W} AS win,
             CAST(sum(n) AS DOUBLE) / count(*) AS paa,
             CAST(count(*) AS BIGINT) AS n_days
      FROM idx GROUP BY 1, 2
    )
    SELECT event_type, CAST(win AS BIGINT) AS win, round(paa, 6) AS paa,
           n_days,
           chr(CAST(96 + ntile({SAX_ALPHA})
                 OVER (PARTITION BY event_type ORDER BY paa, win) AS INTEGER)) AS sym
    FROM paa
"""


@query("ts25_sax_symbolize", section="TS", oracle=_TS25_ORACLE)
def ts25_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003) over
    the per-type daily event-count series: Piecewise Aggregate
    Approximation ({W}-day segment means) then a {A}-letter alphabet —
    the discretization that turns numeric series into strings, so the
    repo's whole text toolbox (n-gram fingerprints, suffix/containment
    dedup, phrase search) applies to TELEMETRY: motif discovery and
    anomaly grep become substring problems.

    One deliberate deviation from the textbook, for cross-engine
    exactness: classic SAX cuts z-scores at Gaussian breakpoints —
    mean/std doubles whose last-ulp differences could flip a boundary
    symbol between engines.  Here the alphabet is RANK-quartile
    (ntile over (paa, win) — a deterministic total order: PAA values
    are exact int÷int doubles, identical bit patterns both engines,
    and the win tiebreak removes ordering slack), which is also the
    equi-probable-symbol property SAX's Gaussian breakpoints are
    chasing, achieved exactly on the empirical distribution.

    Spark shapes: one (type, day) partial agg, one per-type window
    rank (partitioned — never global), one (type, win) agg, one
    per-type ntile; every stage keyed, nothing corpus-sized crosses
    unkeyed."""
    from pyspark.sql import Window as W

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    idx = daily.select(
        "event_type",
        "n",
        (
            F.row_number().over(W.partitionBy("event_type").orderBy("d")) - 1
        ).alias("i"),
    )
    paa = idx.groupBy(
        "event_type", (F.col("i") / SAX_W).cast("int").alias("win")
    ).agg(
        (F.sum("n").cast("double") / F.count("*")).alias("paa"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return paa.select(
        "event_type",
        F.col("win").cast("bigint").alias("win"),
        F.round("paa", 6).alias("paa"),
        "n_days",
        F.chr(
            96
            + F.ntile(SAX_ALPHA).over(
                W.partitionBy("event_type").orderBy("paa", "win")
            )
        ).alias("sym"),
    )


ts25_sax_symbolize.__doc__ = ts25_sax_symbolize.__doc__.format(
    W=SAX_W, A=SAX_ALPHA
)


# ---------------------------------------------------------------------------
# L4: character-trigram language identification
# ---------------------------------------------------------------------------

LID_TOPK = 200  # profile size: top trigrams per language
LID_TEST_MOD = 5  # doc_id % 5 == 0 → test split; rest trains profiles
# Per-language vocabulary injection (the round-13 verdict's "make
# lang-id mean something"): the shared-vocabulary fixture gives every
# label the SAME trigram distribution, so accuracy was ≈ the prior BY
# CONSTRUCTION and a misrouted profile could not fail.  Each doc's
# text is extended with three lang-keyed pseudo-words at Zipf-ish
# counts (16/8/4) — a deterministic, engine-identical expression both
# sides compute — giving every language a DISTINCT vocabulary slice:
# the confusion matrix now has real diagonal signal, and swapping two
# profiles flips predictions and fails the oracle hash.
LID_MARK_SQL = (
    "text || repeat(' q' || lang || 'x', 16)"
    " || repeat(' v' || lang || 'k', 8)"
    " || repeat(' z' || lang || 'j', 4)"
)

_LID_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, lang, {LID_MARK_SQL} AS text FROM documents
    ),
    tri AS (
      SELECT doc_id, lang, substr(text, i, 3) AS g
      FROM docs,
           unnest(generate_series(1, greatest(length(text) - 2, 0))) AS t(i)
    ),
    prof AS (
      SELECT lang, g FROM (
        SELECT lang, g, count(*) AS c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, g) AS rn
        FROM tri WHERE doc_id % {LID_TEST_MOD} <> 0
        GROUP BY lang, g
      ) WHERE rn <= {LID_TOPK}
    ),
    doc_tf AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
      FROM tri WHERE doc_id % {LID_TEST_MOD} = 0
      GROUP BY doc_id, g
    ),
    scores AS (
      SELECT d.doc_id, p.lang, CAST(sum(d.tf) AS BIGINT) AS score
      FROM doc_tf d JOIN prof p ON p.g = d.g
      GROUP BY d.doc_id, p.lang
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT t.lang AS true_lang,
           coalesce(p.pred_lang, 'unk') AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, lang FROM documents
          WHERE doc_id % {LID_TEST_MOD} = 0) t
    LEFT JOIN pred p ON p.doc_id = t.doc_id
    GROUP BY 1, 2
"""


@query("l4_lang_id_trigram", section="L4", oracle=_LID_ORACLE)
def l4_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification — the langid /
    fastText-style heuristic every crawl pipeline runs before
    lang-specific filtering: build per-language trigram PROFILES from
    a train split (top {K} trigrams each — the model is KB-sized no
    matter the corpus), classify the test split by summed
    profile-trigram frequency, emit the confusion matrix.

    The fixture's shared vocabulary is extended IN-PLAN with a
    distinct per-language vocabulary slice (LID_MARK_SQL — three
    lang-keyed pseudo-words at Zipf-ish 16/8/4 counts, the identical
    deterministic expression on both engines), so the confusion
    matrix has real diagonal signal: accuracy beats the majority
    prior (pytest-asserted) and a swapped or misrouted profile flips
    predictions and fails the oracle hash — the round-13 verdict's
    "make lang-id mean something".

    Determinism: profiles cut by (count DESC, gram ASC) rank; argmax
    by (score DESC, lang ASC); every score an exact int64 sum.

    Spark shapes: trigram explode is a scan-edge Generate (sequence +
    substr, no lambdas — codegen); test trigram INSTANCES join the
    BROADCAST profile (≤ langs × {K} rows) directly, so non-profile
    grams drop at the scan edge and the single shuffle carries only
    (doc, lang) partial sums — on real web text a ~10-100× cut vs
    shuffling the raw (doc, gram) space, at zero correctness risk
    (count(*) per (doc, lang) ≡ Σ tf over that lang's profile grams);
    per-doc argmax is a doc-keyed window over the Aggregate-bounded
    score table.  At 100 TB: one corpus scan + one broadcast join +
    one keyed agg; the model never shuffles the corpus."""
    from pyspark.sql import Window as W

    from chronicle_sniffer_spark.tables import spread

    # spread(): the single-row-group fixture file scans as ONE task,
    # serializing the char-heavy trigram Generate on one core (2.4 s
    # of the entry's 4.6 s wall); a properly-split 100 TB corpus makes
    # this a no-op (see tables.spread docstring)
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ).select(
        "doc_id",
        "lang",
        F.expr(LID_MARK_SQL).alias("text"),
    )
    # guard the <3-char case explicitly: Spark's sequence(1, len-2)
    # infers step -1 when len-2 < 1 and yields a DESCENDING [1, 0]
    # (two bogus partial trigrams) where DuckDB's generate_series(1,0)
    # is EMPTY — explode-of-empty drops the row in both engines
    positions = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    tri = d.select(
        "doc_id",
        "lang",
        F.explode(positions).alias("i"),
        "text",
    ).select("doc_id", "lang", F.expr("substr(text, i, 3)").alias("g"))
    train = tri.filter(F.col("doc_id") % LID_TEST_MOD != 0)
    prof = (
        train.groupBy("lang", "g")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.col("c").desc(), "g")
            ),
        )
        .filter(F.col("rn") <= LID_TOPK)
        .select("lang", "g")
    )
    # One broadcast join does both the pruning and the scoring: each
    # test trigram INSTANCE joins the KB-sized profile (fan-out ≤ the
    # langs whose profile carries the gram — non-hits drop on the
    # spot), and count(*) per (doc, lang) IS Σ tf over that lang's
    # profile grams.  Equivalent to the earlier semi-join + (doc,
    # gram) tf agg + profile join chain, but the heavy train-side
    # profile subtree is built ONCE (the chain broadcast it twice —
    # once as the gram set, once as the scorer — re-running the full
    # train aggregation per broadcast), and the only shuffle left
    # carries (doc, lang) partial sums: strictly fewer keys than the
    # (doc, gram) space the chain aggregated first.
    scores = (
        tri.filter(F.col("doc_id") % LID_TEST_MOD == 0)
        .select("doc_id", "g")
        .join(F.broadcast(prof), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").cast("bigint").alias("score"))
    )
    pred = (
        scores.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    test = d.filter(F.col("doc_id") % LID_TEST_MOD == 0).select("doc_id", "lang")
    return (
        test.join(pred, "doc_id", "left")
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.coalesce("pred_lang", F.lit("unk")).alias("pred_lang"),
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


l4_lang_id_trigram.__doc__ = l4_lang_id_trigram.__doc__.format(K=LID_TOPK)


# ---------------------------------------------------------------------------
# L5: audio linear resample (8 kHz → 16 kHz), exactness-checked
# ---------------------------------------------------------------------------

RESAMPLE_OUT_RATE = 16000

_L5RS_ORACLE = f"""
    WITH a AS (
      SELECT doc_id,
             CAST(800 + (doc_id % 5) * 400 AS BIGINT) AS n,
             CAST(1000 + (doc_id % 20) * 100 AS BIGINT) AS amp
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS in_rate,
           CAST({RESAMPLE_OUT_RATE} AS INTEGER) AS out_rate,
           n AS n_in,
           CAST(2 * n - 1 AS BIGINT) AS n_out,
           CAST(2 * n * amp AS BIGINT) AS sum_abs2,
           CAST(n - 1 AS BIGINT) AS n_zero,
           round(sqrt(CAST(n AS DOUBLE) * CAST(amp AS DOUBLE)
                      * CAST(amp AS DOUBLE) / CAST(2 * n - 1 AS DOUBLE)), 6)
             AS rms
    FROM a
"""


@query("l5_audio_resample", section="L5", oracle=_L5RS_ORACLE)
def l5_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample through bytes — the rate normalization
    every speech corpus runs before training (mixed 8/16/44.1 kHz
    sources → one model rate): PCM16 WAV square waves encode, decode,
    and linearly upsample 8 kHz → 16 kHz in Arrow batches
    (operators/multimodal.py::audio_resample, np.interp).  The ±A
    alternating corpus makes every output sample CLOSED-FORM: original
    samples pass through untouched, every inserted midpoint is exactly
    (A + −A)/2 = 0, so the oracle pins n_out = 2n−1, an integer
    half-unit absolute-sum checksum 2·n·A, the zero count n−1, and the RMS
    A·√(n/(2n−1)) — a resampler that is off by one position, clips,
    or filters instead of interpolating breaks the hash.

    Spark shapes: scan pruned to doc_id → mapInPandas encode →
    mapInPandas resample+stats; payload bytes never shuffle."""
    from chronicle_sniffer_spark.operators.multimodal import (
        audio_resample,
        synthesize_media_encoded,
    )

    stats = audio_resample(
        synthesize_media_encoded(load_table(spark, sf_dir, "documents")),
        RESAMPLE_OUT_RATE,
    )
    return stats.select(
        "media_id",
        "in_rate",
        "out_rate",
        "n_in",
        "n_out",
        "sum_abs2",
        "n_zero",
        F.round("rms", 6).alias("rms"),
    )


# ---------------------------------------------------------------------------
# S23: schema-evolution scan (mergeSchema across epochs)
# ---------------------------------------------------------------------------

S23_SPLIT = 2  # epoch 0: o_orderkey % 2 == 0 (old schema); epoch 1: rest


def _s23_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two-epoch parquet layout with an EVOLVED schema: epoch 0 writes
    (okey, cents), epoch 1 adds a priority column — the additive
    column change every long-lived table accretes."""

    def build() -> str:
        out = session_tmpdir("css_s23_")
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            F.col("o_orderpriority").alias("prio"),
        )
        o.filter(F.col("okey") % S23_SPLIT == 0).select("okey", "cents").write.parquet(
            f"{out}/epoch=0"
        )
        o.filter(F.col("okey") % S23_SPLIT != 0).write.parquet(f"{out}/epoch=1")
        return out

    return session_memo(spark, ("s23_evolved", os.path.abspath(sf_dir)), build)


_S23_ORACLE = f"""
    WITH t AS (
      SELECT o_orderkey AS okey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN o_orderkey % {S23_SPLIT} <> 0
                  THEN o_orderpriority END AS prio
      FROM orders
    )
    SELECT coalesce(prio, '<pre-evolution>') AS prio,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents_total
    FROM t GROUP BY 1
"""


@query("s23_schema_evolution_scan", section="S8", oracle=_S23_ORACLE)
def s23_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution — the change every long-lived lake
    table accretes: epoch 0 files carry (okey, cents), epoch 1 adds a
    priority column.  One ``mergeSchema`` read reconciles both
    footers into the superset schema (pre-evolution rows surface NULL
    for the added column, bucketed here under '<pre-evolution>'), and
    the rollup must equal a single-schema recompute from the source
    table — files are never rewritten to evolve (the Delta/Iceberg
    contract; at 100 TB a rewrite-to-evolve is the cost of the whole
    table).

    Spark shapes: footer-merged parallel scan → one partial agg.  The
    per-file work is identical to a plain scan; schema merge is a
    driver-side footer union, not a data pass."""
    d = spark.read.option("mergeSchema", "true").parquet(
        f"{_s23_dir(spark, sf_dir)}/epoch=0", f"{_s23_dir(spark, sf_dir)}/epoch=1"
    )
    return d.groupBy(
        F.coalesce("prio", F.lit("<pre-evolution>")).alias("prio")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents_total"),
    )
