"""Corpus-quality and split operators for training-data curation:
Gopher-style repetition signals, C4-style quality gating, hash-based
train/val/test splitting, deterministic global shuffle, URL/domain
blocklist filtering — plus the warehouse-maintenance shapes (CDC
latest-record compaction, MERGE/upsert).

All shapes here follow the public heuristics literature (Rae et al.
2021 "Scaling Language Models" appendix A / Gopher repetition filters;
Raffel et al. 2020 / C4 cleanup rules) re-expressed as Catalyst column
plans with DuckDB oracles.  Determinism rules from plans/catalog.py
apply: Lehmer/md5 hashes instead of RNGs, BIGINT casts on integer
sums, identical aliases both engines.

Scale shapes (100 TB):
- repetition / quality signals: per-row expressions or explode +
  groupBy(doc_id) — every shuffle key is a doc_id or (doc_id, token),
  never a document body; partial aggregation applies.
- hash split / global shuffle: pure per-row arithmetic, no shuffle at
  all; the shuffle ORDER is a sort key (md5), so a cluster writes it
  with a range-partitioned sort, never a global row_number.
- URL blocklist: broadcast anti-join — the blocklist is the small side
  by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.quality import (
    MAX_SYMBOL_RATIO,
    MEAN_WL_HI,
    MEAN_WL_LO,
    MIN_WORDS,
    _SPLIT_A,
    _SPLIT_M,
    TRAIN_PCT,
    VAL_PCT,
)
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# L4: Gopher-style repetition signals (word level)
# ---------------------------------------------------------------------------


@query(
    "l4_repetition_signals",
    section="L4",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(max(c) AS BIGINT) AS top_word_count,
           round(max(c) * 1.0 / sum(c), 6) AS top_word_frac,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_word_frac
    FROM wc GROUP BY doc_id
    """,
)
def l4_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-repetition quality signals per document (Gopher filter
    family): total/distinct word counts, the most-frequent-word share,
    and the duplicate-word fraction.  Two-stage aggregation — explode
    to (doc_id, word), count, then collapse to doc_id — where both
    shuffle keys are id/token-sized and partial aggregation combines
    map-side, so the document bodies themselves never shuffle."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_word_frac"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("c"), 6).alias("dup_word_frac"),
    )


@query(
    "l4_top_bigram",
    section="L4",
    oracle="""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(a) - 1),
                                   i -> a[i] || ' ' || a[i + 1])) AS b
      FROM ws
    ),
    bc AS (
      SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS BIGINT) AS top_bigram_count,
           round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
    FROM bc GROUP BY doc_id
    """,
)
def l4_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2-gram share per document (the Gopher "fraction of
    characters in the most common n-gram" signal at word granularity).
    Bigrams are built with the lambda-free arrays_zip form (JVM-side,
    whole-stage codegen — a transform lambda would knock the fan-out
    Project out of codegen); the size guard keeps 1-word docs from
    minting bogus pairs — DuckDB's generate_series(1,0) is empty, and
    explode-of-empty drops the row identically in both engines."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("a"))
    bigrams = F.when(
        F.size("a") >= 2,
        F.expr(
            "CAST(slice(arrays_zip(a, slice(a, 2, greatest(size(a) - 1, 0))),"
            " 1, greatest(size(a) - 1, 1)) AS array<struct<`0` string, `1` string>>)"
        ),
    ).otherwise(F.array().cast("array<struct<`0` string, `1` string>>"))
    bg = ws.select("doc_id", F.explode(bigrams).alias("z")).select(
        "doc_id", F.concat_ws(" ", F.col("z.`0`"), F.col("z.`1`")).alias("b")
    )
    bc = bg.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# L4: C4-style quality gate
# ---------------------------------------------------------------------------


@query(
    "l4_c4_quality_filter",
    section="L4",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS mean_word_len,
             round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
                   / length(text), 6) AS symbol_ratio
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           CAST(CASE WHEN n_words >= {MIN_WORDS}
                      AND mean_word_len BETWEEN {MEAN_WL_LO} AND {MEAN_WL_HI}
                      AND symbol_ratio < {MAX_SYMBOL_RATIO}
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM sig
    """,
)
def l4_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style document quality gate: word count, mean word length
    band, and symbol-character ratio, folded into a keep/drop flag.
    Pure per-row expressions — no shuffle, scan-pruned to (doc_id,
    text) — so at 100 TB this is a narrow map stage that rides along
    with the parquet scan."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    mean_wl = F.round(F.length(F.regexp_replace("text", " ", "")) * 1.0 / n_words, 6)
    sym = F.round(
        F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")) * 1.0 / F.length("text"), 6
    )
    sig = d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
    )
    keep = (
        (F.col("n_words") >= MIN_WORDS)
        & F.col("mean_word_len").between(MEAN_WL_LO, MEAN_WL_HI)
        & (F.col("symbol_ratio") < MAX_SYMBOL_RATIO)
    )
    return sig.withColumn("keep", keep.cast("int"))


# ---------------------------------------------------------------------------
# L6: hash-based train/val/test split
# ---------------------------------------------------------------------------


@query(
    "l6_hash_split",
    section="L6",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
             (doc_id * {_SPLIT_A}) % {_SPLIT_M} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split_name,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM b GROUP BY split_name, lang
    """,
)
def l6_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by Lehmer hash of doc_id
    (80/10/10), reported as per-(split, lang) document and token
    stats.  The split assignment is stateless per-row arithmetic —
    re-runs, engines, and cluster topologies all agree — and the only
    shuffle is the tiny stats groupBy."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _SPLIT_A) % _SPLIT_M % 100
    split_name = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select(
            split_name.alias("split_name"),
            "lang",
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .groupBy("split_name", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# L6: deterministic global shuffle
# ---------------------------------------------------------------------------


@query(
    "l6_global_shuffle",
    section="L6",
    oracle="""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key,
           CAST(instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 1)) - 1
                AS INTEGER) AS shard
    FROM documents
    """,
)
def l6_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle order: an md5 sort key
    per document (salted with the epoch id, here ':42') plus a 16-way
    shard from its first nibble.  At 100 TB the writer range-partitions
    on shuffle_key and sorts within partitions — a global ORDER
    without a global window; no row_number anywhere."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    return d.select("doc_id", key.alias("shuffle_key")).select(
        "doc_id",
        "shuffle_key",
        (F.expr("instr('0123456789abcdef', substr(shuffle_key, 1, 1))") - 1)
        .cast("int")
        .alias("shard"),
    )


# ---------------------------------------------------------------------------
# L4: URL/domain extraction + blocklist
# ---------------------------------------------------------------------------

BLOCKED_DOMAINS = ("site4.example.org", "site16.example.org")


@query(
    "l4_url_domains",
    section="L4",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0
                          THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR)
                               || '.example.org/page'
                          ELSE '' END AS text
      FROM documents
    ),
    dom AS (
      SELECT doc_id, regexp_extract(text, 'https?://([^/ ]+)', 1) AS domain FROM aug
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM dom
    WHERE domain <> ''
      AND domain NOT IN {BLOCKED_DOMAINS!r}
    GROUP BY domain
    """,
)
def l4_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain blocklist (the C4 badwords/blocklist
    move): synthetic URLs are appended to every 4th document, the
    domain is regexp-extracted, blocklisted domains are removed with a
    broadcast LEFT ANTI join, and survivors aggregate per domain.  The
    blocklist is the small side by construction — broadcast, never
    shuffled."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".example.org/page"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    dom = aug.select(
        "doc_id", F.regexp_extract("text", "https?://([^/ ]+)", 1).alias("domain")
    ).filter(F.col("domain") != "")
    block = spark.createDataFrame([(b,) for b in BLOCKED_DOMAINS], "domain string")
    kept = dom.join(F.broadcast(block), "domain", "left_anti")
    return kept.groupBy("domain").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc")
    )


# ---------------------------------------------------------------------------
# O9/S8: CDC latest-record-wins and MERGE/upsert shapes
# ---------------------------------------------------------------------------


@query(
    "o9_cdc_latest",
    section="O3",
    oracle="""
    WITH changes AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, v
      FROM orders, unnest(generate_series(0, o_orderkey % 3)) AS t(v)
    ),
    ranked AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice + v * 10.0 AS price_v, v,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) AS rn
      FROM changes
    )
    SELECT o_orderkey, o_orderstatus, price_v AS latest_price,
           CAST(v AS BIGINT) AS latest_version
    FROM ranked WHERE rn = 1
    """,
)
def o9_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture compaction: latest-record-wins per key.  A
    synthetic change stream (1–3 versions per order, price bumped per
    version) collapses to the newest version with one ranking window.
    At 100 TB this is the standard log-compaction shape: shuffle once
    on the key, per-partition heap — never a self-join against the
    history."""
    o = load_table(spark, sf_dir, "orders")
    changes = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))).alias("v"),
    ).withColumn("price_v", F.col("o_totalprice") + F.col("v") * 10.0)
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderkey").orderBy(F.col("v").desc())
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("price_v").alias("latest_price"),
            F.col("v").cast("bigint").alias("latest_version"),
        )
    )


@query(
    "s8_merge_upsert",
    section="S8",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey,
             'P' AS new_status,
             o_totalprice * 1.1 AS new_price
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey,
             'N' AS new_status,
             o_totalprice AS new_price
      FROM orders WHERE o_orderkey % 31 = 0
    ),
    delta AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
    SELECT coalesce(b.o_orderkey, d.o_orderkey) AS o_orderkey,
           coalesce(d.new_status, b.o_orderstatus) AS status,
           coalesce(d.new_price, b.o_totalprice) AS price,
           CAST(CASE WHEN d.o_orderkey IS NULL THEN 0 ELSE 1 END AS INTEGER) AS was_merged
    FROM orders b FULL OUTER JOIN delta d USING (o_orderkey)
    """,
)
def s8_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a table format: apply a delta batch
    (updates to every 7th order, inserts of new keys) to the base
    table as one FULL OUTER join + coalesce — matched rows take the
    delta's values, unmatched base rows pass through, unmatched delta
    rows insert.  The scale shape is a single co-partitioned join on
    the merge key; with a bucketed base table the shuffle drops to the
    delta side only (tests/test_bucketing.py shows that layout)."""
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("P").alias("new_status"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
    )
    inserts = o.filter(F.col("o_orderkey") % 31 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("new_status"),
        F.col("o_totalprice").alias("new_price"),
    )
    delta = updates.unionAll(inserts)
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    merged = base.join(delta, "o_orderkey", "full_outer")
    return merged.select(
        "o_orderkey",
        F.coalesce("new_status", "o_orderstatus").alias("status"),
        F.coalesce("new_price", "o_totalprice").alias("price"),
        F.when(F.col("new_status").isNull(), 0).otherwise(1).cast("int").alias("was_merged"),
    )


# ---------------------------------------------------------------------------
# L4: TF-IDF term scoring
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


@query(
    "l4_tfidf",
    section="L4",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w, CAST(tf.tf AS BIGINT) AS tf,
             CAST(df.df AS BIGINT) AS df,
             tf.tf * (CAST(n.n_docs AS DOUBLE) + 1.0) / (df.df + 1.0) AS score
      FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w, tf, df, round(score, 6) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, w) AS rnk
          FROM scored)
    WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def l4_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{{k}} distinguishing terms per document by TF-IDF-style
    weighting.  The inverse-document-frequency factor is the unlogged
    ratio (n_docs+1)/(df+1): the log is a monotone transform of the
    per-term factor and omitting it keeps every arithmetic step a
    single IEEE operation, which both engines compute bit-identically
    (libm ``ln`` is not guaranteed to round identically across
    implementations — the kind of last-ulp slack that flips a rank
    boundary).  Shapes: two token-keyed aggregations (tf per doc, df
    corpus-wide), a broadcast of the scalar doc count, and a per-doc
    ranking window — all shuffle keys are tokens or doc ids."""
    from chronicle_sniffer_spark.tables import spread

    d = load_table(spark, sf_dir, "documents")
    # spread before the token fan-out (single-row-group scan -> one
    # map task otherwise; no-op on a many-split source)
    words = spread(d.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            "tf",
            "df",
            (F.col("tf") * (F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)).alias(
                "score"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "w", "tf", "df", F.round("score", 6).alias("score"),
                F.col("rnk").cast("int").alias("rnk"))
    )


SPAN_N = 16  # tokens per span (the Lee-et-al exact-substring granularity class)


@query(
    "l4_span_dedup",
    section="L4",
    oracle=f"""
    WITH spans AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+{SPAN_N - 1}], ' ') AS span
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           unnest(generate_series(1, greatest(len(words) - {SPAN_N - 1}, 1))) AS t(i)
    ),
    shared AS (
      SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS dup_span_frac
    FROM spans s LEFT JOIN shared sh ON s.span = sh.span
    GROUP BY s.doc_id
    """,
)
def l4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated token spans — the exact-substring
    dedup signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): for each document, the fraction of its
    distinct 16-token spans that also appear verbatim in at least one
    OTHER document.  A curation pipeline cuts or down-weights the
    flagged spans.

    Scale shape: spans are generated with the lambda-free zip form
    (whole-stage codegen), keyed by md5 so the shuffle key is 16 bytes
    — span TEXT never shuffles; the shared-span set is an aggregation
    on that key (count distinct docs >= 2) followed by a key join
    back.  The oracle groups on the span text directly — identical
    counts (md5 collisions are negligible and would fail the hash
    match if one ever occurred)."""
    from chronicle_sniffer_spark.operators.dedup import ngram_gram_col, ngram_zip_expr
    from chronicle_sniffer_spark.tables import spread

    # spread before the span fan-out + md5: map-side work that would
    # otherwise run in the single-row-group scan's one task
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    spans = (
        d.select("doc_id", F.explode(F.expr(ngram_zip_expr(SPAN_N))).alias("z"))
        .select("doc_id", F.md5(ngram_gram_col(SPAN_N)).alias("h"))
        .distinct()
    )
    shared = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("hit"))
    )
    return (
        spans.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_dup_spans"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 1.0 / F.count("*"), 6
            ).alias("dup_span_frac"),
        )
    )
