"""LLM-data-pipeline operators over `documents` / `embeddings`
(SURVEY.md §2B L1-L5): dedup (exact + MinHash-LSH), embedding
similarity search, text analysis.

All implementations are bounded-memory per partition and shuffle only
on their natural keys — at 100 TB each stage is a plain hash shuffle:
shingle explode is a flatMap (no shuffle), signatures aggregate by
doc_id, LSH candidate pairs join by band bucket (skew-safe because
bucket ids are cryptographic-hash-distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.dedup import MINHASH_K, SHINGLE_LEN, minhash_signatures
from chronicle_sniffer_spark.operators.similarity import COSINE_TOPK_ORACLE
from chronicle_sniffer_spark.plans.catalog import query, sql_query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# L1 — exact dedup
# ---------------------------------------------------------------------------


# Exact dedup by content hash: group on the md5 of the text, keep the
# lowest doc_id as representative.  Hash-groupBy (not distinct-on-
# text) so the shuffle key is 16 bytes, not the document body —
# the difference between shuffling 100 TB and shuffling 1.6 TB.
sql_query(
    "l1_exact_dedup",
    section="L1",
    text="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM {documents} GROUP BY md5(text)
    """,
)


# ---------------------------------------------------------------------------
# L2 — MinHash near-dup
# ---------------------------------------------------------------------------


def _oracle_minhash_cte() -> str:
    hashes = ",\n             ".join(
        f"min(substring(md5(substring(text, t.i, {SHINGLE_LEN})), {1 + 8 * i}, 8)) AS h{i+1}"
        for i in range(MINHASH_K)
    )
    return f"""
    sig AS (
      SELECT doc_id,
             {hashes}
      FROM documents,
           unnest(generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1))) AS t(i)
      GROUP BY doc_id
    )
    """


@query(
    "l2_minhash_signatures",
    section="L2",
    oracle=f"""
    WITH {_oracle_minhash_cte()}
    SELECT doc_id,
           h1 || '|' || h2 || '|' || h3 || '|' || h4 AS sig,
           md5(h1 || h2) AS band1,
           md5(h3 || h4) AS band2
    FROM sig
    """,
)
def l2_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature + LSH band buckets per document."""
    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    return sig.select(
        "doc_id",
        F.concat_ws("|", "h1", "h2", "h3", "h4").alias("sig"),
        F.md5(F.concat("h1", "h2").cast("binary")).alias("band1"),
        F.md5(F.concat("h3", "h4").cast("binary")).alias("band2"),
    )


@query(
    "l2_lsh_candidate_pairs",
    section="L2",
    oracle=f"""
    WITH {_oracle_minhash_cte()},
    banded AS (
      SELECT doc_id, md5(h1 || h2) AS bucket FROM sig
      UNION ALL
      SELECT doc_id, md5(h3 || h4) AS bucket FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def l2_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate
    near-dup pairs.  The pair join is per-bucket — never all-pairs."""
    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    banded = sig.select(
        "doc_id", F.md5(F.concat("h1", "h2").cast("binary")).alias("bucket")
    ).unionByName(
        sig.select("doc_id", F.md5(F.concat("h3", "h4").cast("binary")).alias("bucket"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# L3 — embedding similarity search
# ---------------------------------------------------------------------------


@query(
    "l3_cosine_topk",
    section="L3",
    oracle=COSINE_TOPK_ORACLE,
)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a fixed query vector.

    The query vector is a broadcast literal (1 row), so the scan side
    never shuffles; top-k is TakeOrderedAndProject (per-partition heap).
    Arithmetic in double (floats cast up) so both engines agree to
    1 ulp; similarity rounded to 6 dp.  The IVF/LSH scale path lives in
    operators/similarity.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")  # codegen array cast, no lambda
    q = e.filter(F.col("vec_id") == 0).select(dbl.alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with(dbl, F.col("qv"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (
                    F.sqrt(
                        F.aggregate(
                            F.transform(dbl, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
                        )
                    )
                    * F.sqrt(
                        F.aggregate(
                            F.transform(F.col("qv"), lambda x: x * x),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        )
                    )
                ),
                6,
            ).alias("sim"),
        )
    )
    # Top-k via orderBy+limit → TakeOrderedAndProject (per-partition heap,
    # no global sort, no single-partition window over the full scan);
    # the ranking window then runs over just k rows.
    topk = scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(10)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# L4 — text analysis
# ---------------------------------------------------------------------------


@query(
    "l4_token_stats",
    section="L4",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token,
           round(CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
)
def l4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization + quality-score features (length, stopword ratio)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.expr(
        "size(filter(split(text, ' '), w -> w IN ('the','a','of','and','to','in','is')))"
    )
    return d.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.round(F.length("text").cast("double") / F.size(words), 6).alias("chars_per_token"),
        F.round(stop.cast("double") / F.size(words), 6).alias("stopword_ratio"),
    )


@query(
    "l4_word_freq",
    section="L4",
    oracle="""
    SELECT word, n FROM (
      SELECT word, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rnk
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ) WHERE rnk <= 20
    """,
)
def l4_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency, top-20 (explode → count; partial
    aggregation makes the shuffle carry only distinct words)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("word", "n")
    )


# ---------------------------------------------------------------------------
# L5 — opaque/wide column integrity
# ---------------------------------------------------------------------------


# Binary pass-through integrity: content survives the pipeline
# byte-exact (multimodal decode plumbing lives in operators/multimodal).
sql_query(
    "l5_content_hash",
    section="L5",
    text="SELECT doc_id, md5(text) AS content_hash FROM {documents}",
)


CHUNK_SIZE = 32  # words per chunk
CHUNK_OVERLAP = 8
_CHUNK_STEP = CHUNK_SIZE - CHUNK_OVERLAP


@query(
    "l4_chunking",
    section="L4",
    oracle=f"""
    SELECT doc_id,
           CAST((s - 1) / {_CHUNK_STEP} AS BIGINT) AS chunk_idx,
           s AS start_word,
           least({CHUNK_SIZE}, len(words) - s + 1) AS chunk_words,
           array_to_string(words[s:s+{CHUNK_SIZE - 1}], ' ') AS chunk_text
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         unnest(generate_series(1, greatest(len(words) - {CHUNK_OVERLAP}, 1),
                                {_CHUNK_STEP})) AS t(s)
    """,
)
def l4_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    of a training/RAG pipeline: each doc becomes overlapping
    {CHUNK_SIZE}-word chunks with stride, keeping word offsets so
    chunks can be traced back to their source span.  A narrow
    flatMap (sequence + explode + slice): no shuffle, bounded memory
    per partition, embarrassingly parallel at 100 TB."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("words"))
    starts = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.size("words") - CHUNK_OVERLAP, F.lit(1)),
            F.lit(_CHUNK_STEP),
        )
    ).alias("s")
    return d.select("doc_id", "words", starts).select(
        "doc_id",
        ((F.col("s") - 1) / _CHUNK_STEP).cast("bigint").alias("chunk_idx"),
        F.col("s").alias("start_word"),
        F.least(F.lit(CHUNK_SIZE), F.size("words") - F.col("s") + 1).alias("chunk_words"),
        F.array_join(F.slice("words", F.col("s"), CHUNK_SIZE), " ").alias("chunk_text"),
    )


CONTAM_N = 5  # containment n-gram width
CONTAM_MIN_RATIO = 0.5


@query(
    "l4_contamination",
    section="L4",
    oracle=f"""
    WITH tg AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+{CONTAM_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents
            WHERE doc_id % 10 <> 0),
           unnest(generate_series(1, greatest(len(words) - {CONTAM_N - 1}, 1))) AS t(i)
    ),
    bg AS (
      SELECT DISTINCT array_to_string(words[i:i+{CONTAM_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents
            WHERE doc_id % 10 = 0),
           unnest(generate_series(1, greatest(len(words) - {CONTAM_N - 1}, 1))) AS t(i)
    )
    SELECT doc_id, count(*) AS n_grams,
           CAST(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS containment
    FROM tg LEFT JOIN bg ON tg.gram = bg.gram
    GROUP BY doc_id
    HAVING containment >= {CONTAM_MIN_RATIO}
    """,
)
def l4_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: the fraction of each training
    doc's word {CONTAM_N}-grams contained in a benchmark set (here the
    deterministic doc_id%10==0 slice standing in for an eval suite —
    mod 10, not 100, so the slice is non-empty at sf0.01 and the
    driver's hash check is never vacuous).
    Scale shape: the benchmark gram set is small by construction, so
    it BROADCASTS — the 100 TB training side streams through a
    broadcast hash join with no shuffle; the only shuffle is the
    per-doc ratio aggregation."""

    def grams(df: DataFrame) -> DataFrame:
        from chronicle_sniffer_spark.operators.dedup import ngram_gram_col, ngram_zip_expr

        return (
            df.select("doc_id", F.explode(F.expr(ngram_zip_expr(CONTAM_N))).alias("z"))
            .select("doc_id", ngram_gram_col(CONTAM_N).alias("gram"))
            .distinct()
        )

    docs = load_table(spark, sf_dir, "documents")
    tg = grams(docs.filter(F.col("doc_id") % 10 != 0))
    bg = grams(docs.filter(F.col("doc_id") % 10 == 0)).select("gram").distinct()
    hit = tg.join(F.broadcast(bg).withColumn("hit", F.lit(1)), "gram", "left")
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count("*"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAM_MIN_RATIO)
    )
