"""Round-5 catalog additions — the retrieval / vector-serving /
curation operators a 100 TB training-data stack still needed after
round 4 (SURVEY.md §2B extension rows, lower block):

- **Retrieval**: BM25 (Robertson/Spärck Jones) lexical scoring,
  reciprocal-rank fusion of lexical+semantic rankings (Cormack et al.,
  SIGIR 2009), MMR diversified reranking (Carbonell & Goldstein, SIGIR
  1998) with an unrolled greedy oracle.
- **Vector serving**: product quantization (Jégou et al., IEEE TPAMI
  2011) with asymmetric-distance scoring over broadcast-literal lookup
  tables, composed IVF-PQ (the FAISS serving shape) both
  train-and-serve and from a materialized codes-only index, and
  per-label centroid aggregation.
- **Dedup / splits**: SemDeDup-style semantic dedup over k-means
  cells (Abbas et al., 2023), incremental delta-vs-history dedup,
  blocked fuzzy (edit-distance) joins, leakage-safe cluster-aware
  train/val/test splits.
- **Quality / curation**: unigram surprisal (perplexity-class
  filtering), per-source quality-decile calibration, token-budget
  corpus selection, a streaming document-quality gate (stream≡batch).
- **Time series / graph**: rolling z-score anomaly detection,
  gap-based batch sessionization, fixed-iteration PageRank link
  centrality (iterate-cached — see the 10× lesson in its docstring).
- **Sources**: XML (Spark 4 built-in, SPARK-44265) and line-oriented
  text round-trips.

House determinism rules apply throughout (plans/catalog.py): exact
decimal sums wherever association order could differ, 6-dp half-away
rounding, identical aliases on both engines, and `ln()` quantized to
6 dp immediately after the call (JVM Math.log ≠ C libm log in the last
ulp — measured in tests/test_coverage5.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    MINHASH_K,
    _ORACLE_GRAMS_CTE,
    SHINGLE_LEN,
    minhash_signatures,
    shared_pairs_and_labels,
)
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
from chronicle_sniffer_spark.operators.similarity import ANN_K, ANN_QUERY_VEC, COSINE_TOPK_ORACLE
from chronicle_sniffer_spark.plans.catalog import query, registry, sql_query
from chronicle_sniffer_spark.streaming.sessions import SESSION_GAP_MIN
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# L4: BM25 retrieval scoring
# ---------------------------------------------------------------------------

BM25_QUERY = ("vector", "stream", "window", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

_BM25_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      FROM docs
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w IN {BM25_QUERY!r}
      GROUP BY doc_id, w
    ),
    dfreq AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w
    ),
    term AS (
      SELECT tf.doc_id,
             round(round(ln(((s.n - d.df + 0.5) / (d.df + 0.5)) + 1.0), 6)
                   * ((tf.tf * {BM25_K1 + 1.0}) /
                      (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + ({BM25_B} * dd.dl) / s.avgdl))),
                   6) AS st
      FROM tf
      JOIN dfreq d USING (w)
      JOIN docs dd ON dd.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(CAST(st AS DECIMAL(18,6))) AS DOUBLE) AS score,
             CAST(count(*) AS INTEGER) AS n_hits
      FROM term GROUP BY doc_id
    )
    SELECT doc_id, score, n_hits, CAST(rnk AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM agg)
    WHERE rnk <= {BM25_TOP_K}
"""


@query("l4_bm25_topk", section="L4", oracle=_BM25_ORACLE)
def l4_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} documents for a fixed lexical query under BM25
    (k1={k1}, b={b}) — Robertson idf ``ln((N-df+0.5)/(df+0.5)+1)``,
    length-normalized tf saturation.

    Scale shapes: the only wide shuffle is the (doc_id, term) tf
    aggregation over tokens matching the query (the IN filter runs
    BEFORE the aggregation, so non-query tokens never shuffle); df and
    corpus stats are 4-row / 1-row broadcasts; the final top-k is a
    TakeOrderedAndProject, not a global sort.

    Determinism: every per-term score is a chain of single IEEE ops on
    identical inputs, rounded to 6 dp, then summed EXACTLY as
    DECIMAL(18,6) so the cross-engine association order of the sum
    can never matter (catalog.py decimal-sum rule).  The one libm call
    (``ln``) is NOT bit-identical across the JVM and C libm (they
    differ in the last ulp — measured), so the idf is quantized to
    6 dp right after it on both engines; tests/test_coverage5.py
    asserts the quantized values agree and sit far from any rounding
    boundary for every occurring df.
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = docs.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w").isin(*BM25_QUERY)
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    # JVM Math.log and C libm log differ in the last ulp (measured —
    # tests/test_coverage5.py), so the idf is quantized to 6 dp on BOTH
    # engines immediately after the one libm call; downstream arithmetic
    # is then single-IEEE-op deterministic.
    idf = F.round(F.log(((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)) + 1.0), 6)
    tf_part = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * F.col("dl")) / F.col("avgdl"))
    )
    term = (
        tf.join(F.broadcast(dfreq), "w")
        .join(docs, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tf_part, 6).alias("st"))
    )
    agg = term.groupBy("doc_id").agg(
        F.sum(F.col("st").cast("decimal(18,6)")).cast("double").alias("score"),
        F.count("*").cast("int").alias("n_hits"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        agg.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(BM25_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


l4_bm25_topk.__doc__ = l4_bm25_topk.__doc__.format(k=BM25_TOP_K, k1=BM25_K1, b=BM25_B)


# ---------------------------------------------------------------------------
# L3: product-quantization ANN (ADC serving path)
# ---------------------------------------------------------------------------


def _pq_oracle() -> str:
    from chronicle_sniffer_spark.operators.pq import oracle_pq_sql

    # same query vector / k as the LSH and IVF ANN entries, so the three
    # scale paths are directly comparable

    return oracle_pq_sql(ANN_QUERY_VEC, ANN_K)


@query("l3_ann_pq_topk", section="L3", oracle=_pq_oracle())
def l3_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 8 subspaces × 16
    codewords (4-bit codes, 128× smaller than the raw float64
    vectors), asymmetric-distance scoring against a per-query lookup
    table that rides in the plan as broadcast literals — the serving
    scan reads codes only, never the vectors.  The DuckDB oracle
    re-derives the ENTIRE pipeline (per-subspace Lloyd training,
    encoding, LUT, exact-decimal ADC sum) in unrolled SQL, the
    `oracle_ivf_sql` pattern with the subspace id as an extra group
    key."""
    from chronicle_sniffer_spark.operators.pq import pq_adc_topk

    return pq_adc_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_VEC, ANN_K)


def _ivfpq_oracle() -> str:
    from chronicle_sniffer_spark.operators.pq import oracle_ivfpq_sql

    return oracle_ivfpq_sql(ANN_QUERY_VEC, ANN_K)


@query("l3_ann_ivfpq_topk", section="L3", oracle=_ivfpq_oracle())
def l3_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (operators/pq.py): probe the query's nearest
    k-means cells, then ADC-score only the candidates inside them —
    pruned scan × 4-bit-code lookups, the canonical billion-vector
    serving index (FAISS IVFPQ).  The oracle composes the two unrolled
    training chains (IVF cells unprefixed, PQ codebooks p-prefixed) in
    one WITH clause over the shared train sample."""
    from chronicle_sniffer_spark.operators.pq import ivfpq_topk

    return ivfpq_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_VEC, ANN_K)


def _ivfpq_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The IVF-PQ index, written once per session and served many
    times — the 100 TB shape, mirroring dedup_sim._ivf_index_dir for
    the plain-IVF index."""
    from chronicle_sniffer_spark.operators.pq import ivfpq_index_write

    def build() -> str:
        out = session_tmpdir("css_ivfpq_index_")
        ivfpq_index_write(load_table(spark, sf_dir, "embeddings"), out)
        return out

    return session_memo(spark, ("l3_ivfpq_index", os.path.abspath(sf_dir)), build)


@query("l3_ann_ivfpq_index_topk", section="L3", oracle=_ivfpq_oracle())
def l3_ann_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served from the MATERIALIZED index: a cid-partitioned
    parquet layout holding (vec_id, codes) only — no vector bytes in
    the index at all — plus KB-sized centroid/codebook tables.  The
    query reads just the probed cells' files (partition pruning) and
    just the codes column; same train-then-serve oracle as
    `l3_ann_ivfpq_topk`."""
    from chronicle_sniffer_spark.operators.pq import ivfpq_topk_from_index

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == ANN_QUERY_VEC).collect()[0].embedding
    ]
    return ivfpq_topk_from_index(
        spark, _ivfpq_index_dir(spark, sf_dir), qv, ANN_K, exclude_vec_id=ANN_QUERY_VEC
    )


# ---------------------------------------------------------------------------
# L2: semantic (cluster-then-compare) dedup
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle() -> str:
    from chronicle_sniffer_spark.operators.ivf import oracle_semantic_dedup_sql

    return oracle_semantic_dedup_sql()


@query("l2_semantic_dedup", section="L2", oracle=_semantic_dedup_oracle())
def l2_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/ivf.py): k-means
    cells from the shared deterministic trainer, cosine pairs only
    WITHIN a cell (Σ per-cell quadratics, never all-pairs), a
    corpus-derived mean+3σ cutoff, keep-first drops.  One row per
    vector: (vec_id, cell, is_kept).  The oracle re-derives the whole
    pipeline through the shared unrolled-Lloyd CTE chain."""
    from chronicle_sniffer_spark.operators.ivf import semantic_dedup

    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# L6: leakage-safe (near-dup-cluster-aware) train/val/test split
# ---------------------------------------------------------------------------


def _leakage_safe_oracle() -> str:

    return f"""
    WITH RECURSIVE {_ORACLE_GRAMS_CTE},
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6)
            >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(s, t) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ),
    labels AS (SELECT s AS doc_id, min(t) AS cluster_id FROM reach GROUP BY s),
    assigned AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN (cluster_id * {_SPLIT_A}) % {_SPLIT_M} % 100 < {TRAIN_PCT}
                THEN 'train'
                WHEN (cluster_id * {_SPLIT_A}) % {_SPLIT_M} % 100
                     < {TRAIN_PCT + VAL_PCT}
                THEN 'val' ELSE 'test' END AS split
    FROM assigned
    """


@query("l6_leakage_safe_split", section="L6", oracle=_leakage_safe_oracle())
def l6_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: the split hash is computed on
    the near-dup CLUSTER id (connected components over the n-gram
    Jaccard graph; singletons are their own cluster), so near-
    duplicate documents can never straddle train and test — the
    leakage mode a per-document hash split (l6_hash_split) cannot
    prevent.  Composition of the L2 clustering and the L6 Lehmer
    split, sharing their exact constants; the oracle nests the
    recursive-CTE reachability closure.  The pair/label computation is
    served from the session-scoped materialization shared with the L2
    entries (operators.dedup.shared_pairs_and_labels) — computed once per
    session, consumed by three catalog entries."""

    d = load_table(spark, sf_dir, "documents")
    _, labels = shared_pairs_and_labels(spark, sf_dir)
    labels = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    assigned = d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    bucket = (F.col("cluster_id") * _SPLIT_A) % _SPLIT_M % 100
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# L6: token-budget corpus selection
# ---------------------------------------------------------------------------

BUDGET_FRAC_PCT = 50  # keep the best docs until 50% of corpus tokens

_BUDGET_ORACLE = f"""
    WITH sig AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS quality
      FROM documents
    ),
    budget AS (SELECT sum(n_tokens) * {BUDGET_FRAC_PCT} // 100 AS b FROM sig),
    ranked AS (
      SELECT doc_id, n_tokens, quality,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM sig
    )
    SELECT doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked, budget WHERE cum_tokens <= budget.b
"""


@query("l6_token_budget_select", section="L6", oracle=_BUDGET_ORACLE)
def l6_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: rank documents by a
    quality signal (best first, deterministic tie-break) and keep the
    prefix whose cumulative token count fits 50% of the corpus —
    the greedy knapsack every 'train on the best N tokens' recipe
    uses.  Integer cumulative sums are exact; the budget is a 1-row
    broadcast.

    Scale shape — a DISTRIBUTED prefix sum, no global window:
    `repartitionByRange` on (quality desc, doc_id) gives a total
    order across ordered partitions; per-partition token sums (a
    P-row aggregate) turn into per-partition starting offsets via a
    tiny broadcast triangle join (P² pairs, P = parallelism — no
    unpartitioned Window anywhere, asserted by
    tests/test_coverage5.py); partitions whose offset already
    exceeds the budget are PRUNED before the cumsum (on a 50%
    budget, half the corpus never runs the scan stage's second
    pass); the in-partition running sum is one Arrow-batched
    `mapInPandas` carrying the residual across batches.  Every
    stage is partition-parallel — this is the plan that survives
    100 TB, unlike the single-task global-window formulation it
    replaced in round 7."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    quality = F.round(
        F.length(F.regexp_replace("text", " ", "")) * 1.0 / F.size(F.split("text", " ")),
        6,
    )
    sig = d.select("doc_id", n_tokens.alias("n_tokens"), quality.alias("quality"))
    budget = sig.agg(
        (F.sum("n_tokens") * BUDGET_FRAC_PCT / 100).cast("bigint").alias("b")
    )
    npart = max(spark.sparkContext.defaultParallelism, 2)
    parted = (
        sig.repartitionByRange(npart, F.col("quality").desc(), F.col("doc_id"))
        .sortWithinPartitions(F.col("quality").desc(), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
    )
    psums = parted.groupBy("pid").agg(F.sum("n_tokens").alias("psum"))
    # offset(p) = sum of token counts in all partitions BEFORE p in
    # the range order — P rows, so a broadcast triangle join beats a
    # window (and keeps the whole plan window-free)
    offsets = (
        psums.alias("a")
        .join(F.broadcast(psums.alias("b")), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.psum"), F.lit(0)).cast("bigint").alias("offset"))
    )
    pruned = (
        parted.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(budget))
        # n_tokens >= 1, so a partition starting at/after the budget
        # cannot contribute any kept row: skip its cumsum entirely
        .filter(F.col("offset") < F.col("b"))
    )

    def _cumsum(batches):
        import pandas as pd  # noqa: F401 (executor-side)

        run = 0
        seen_pid = None
        prev_key = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # The offset is read once per batch (iloc[0]) and the cumsum
            # assumes this physical partition holds exactly ONE range
            # partition in sorted order.  Both hold today (explicit
            # numPartitions blocks AQE coalescing; broadcast joins
            # preserve the streamed side's order) but are Spark
            # implementation details — fail LOUDLY if a planner change
            # ever reorders or merges partitions under us, instead of
            # silently corrupting cum_tokens.
            pids = pdf["pid"].unique()
            if len(pids) != 1 or (seen_pid is not None and pids[0] != seen_pid):
                raise AssertionError(
                    f"token-budget cumsum: batch spans range partitions {pids} "
                    f"(prev {seen_pid}) — AQE/planner merged partitions"
                )
            seen_pid = pids[0]
            q = pdf["quality"].to_numpy()
            i = pdf["doc_id"].to_numpy()
            ok = bool(
                ((q[:-1] > q[1:]) | ((q[:-1] == q[1:]) & (i[:-1] < i[1:]))).all()
            )
            if not ok or (
                prev_key is not None
                and not (
                    prev_key[0] > q[0] or (prev_key[0] == q[0] and prev_key[1] < i[0])
                )
            ):
                raise AssertionError(
                    "token-budget cumsum: (quality desc, doc_id) sort order "
                    "violated within partition — planner reordered rows"
                )
            prev_key = (q[-1], i[-1])
            cum = pdf["n_tokens"].cumsum() + int(pdf["offset"].iloc[0]) + run
            run += int(pdf["n_tokens"].sum())
            yield pdf.assign(cum_tokens=cum.astype("int64"))[
                ["doc_id", "n_tokens", "quality", "cum_tokens", "b"]
            ]

    ranked = pruned.mapInPandas(
        _cumsum,
        schema="doc_id bigint, n_tokens bigint, quality double, "
        "cum_tokens bigint, b bigint",
    )
    return ranked.filter(F.col("cum_tokens") <= F.col("b")).select(
        "doc_id", "n_tokens", "quality", "cum_tokens"
    )


# ---------------------------------------------------------------------------
# T10: streaming document-quality gate (curation over a doc stream)
# ---------------------------------------------------------------------------


def doc_quality_counts(docs: DataFrame) -> DataFrame:
    """Per-source curation counters over a document relation — works
    unchanged on a BATCH table or a STREAMING file source (the
    stream≡batch test in tests/test_coverage5.py runs this exact plan
    both ways): C4-gate keeps, drops, and token totals per source.
    One narrow map stage + a source-keyed partial agg — the shape of a
    live ingest-quality dashboard over a crawled corpus."""

    n_words = F.size(F.split("text", " "))
    mean_wl = F.round(F.length(F.regexp_replace("text", " ", "")) * 1.0 / n_words, 6)
    sym = F.round(
        F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")) * 1.0 / F.length("text"),
        6,
    )
    keep = (
        (n_words >= MIN_WORDS)
        & mean_wl.between(MEAN_WL_LO, MEAN_WL_HI)
        & (sym < MAX_SYMBOL_RATIO)
    )
    return docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(keep.cast("int")).cast("bigint").alias("n_keep"),
        F.sum(n_words).cast("bigint").alias("total_tokens"),
    )


def _t10_oracle() -> str:

    return f"""
    WITH sig AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_words,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS mean_word_len,
             round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
                   / length(text), 6) AS symbol_ratio
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_words >= {MIN_WORDS}
                          AND mean_word_len BETWEEN {MEAN_WL_LO} AND {MEAN_WL_HI}
                          AND symbol_ratio < {MAX_SYMBOL_RATIO}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(n_words) AS BIGINT) AS total_tokens
    FROM sig GROUP BY source
    """


@query("t10_doc_quality_gate", section="T10", oracle=_t10_oracle())
def t10_doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation counters (batch form for the oracle): the
    same `doc_quality_counts` plan runs over a streaming document file
    source with stream≡batch parity asserted in
    tests/test_coverage5.py — live ingest QA for an LLM corpus, the
    L4 gate lifted onto the T-series runtime."""
    return doc_quality_counts(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# L6: per-source quality-decile calibration
# ---------------------------------------------------------------------------

_DECILE_ORACLE = """
    WITH sig AS (
      SELECT doc_id, source,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS mean_word_len
      FROM documents
    ),
    dec AS (
      SELECT doc_id, source, mean_word_len,
             CAST(ntile(10) OVER (PARTITION BY source
                                  ORDER BY mean_word_len, doc_id) AS INTEGER)
               AS decile
      FROM sig
    )
    SELECT source, decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(mean_word_len), 6) AS lo,
           round(max(mean_word_len), 6) AS hi
    FROM dec GROUP BY source, decile
"""


@query("l6_quality_deciles", section="L6", oracle=_DECILE_ORACLE)
def l6_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: rank every document's quality
    signal (mean word length, one of the C4-gate features) into
    deciles WITHIN its source — the normalization step that makes
    quality thresholds comparable across heterogeneous sources before
    mixing (absolute score cutoffs systematically bias against whole
    sources; per-source quantiles don't).  ntile is made deterministic
    with a full (signal, doc_id) tie-break; the shuffle key is the
    source — at 100 TB a skewed source is handled by the same
    two-stage/salting treatment as any hot-key agg (A10)."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    mwl = F.round(
        F.length(F.regexp_replace("text", " ", "")) * 1.0 / n_words, 6
    ).alias("mean_word_len")
    sig = d.select("doc_id", "source", mwl)
    w = Window.partitionBy("source").orderBy("mean_word_len", "doc_id")
    dec = sig.withColumn("decile", F.ntile(10).over(w).cast("int"))
    return dec.groupBy("source", "decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.min("mean_word_len"), 6).alias("lo"),
        F.round(F.max("mean_word_len"), 6).alias("hi"),
    )


# ---------------------------------------------------------------------------
# L3: per-label embedding centroids (vector aggregation)
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
    WITH ex AS (
      SELECT label, unnest(embedding::DOUBLE[]) AS val,
             unnest(generate_series(1, len(embedding))) AS idx
      FROM embeddings
    ),
    dims AS (
      SELECT label, idx,
             round(CAST(sum(CAST(round(val, 9) AS DECIMAL(20,9))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS mu
      FROM ex GROUP BY label, idx
    )
    SELECT label, CAST(count(*) AS BIGINT) AS dim,
           round(sum(CAST(mu AS DECIMAL(18,6))) , 6)::DOUBLE AS centroid_sum,
           round(min(mu), 6) AS centroid_min,
           round(max(mu), 6) AS centroid_max
    FROM dims GROUP BY label
"""


@query("l3_label_centroids", section="L3", oracle=_CENTROID_ORACLE)
def l3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the vector-aggregation
    primitive behind class prototypes, cluster summaries, and
    semantic-dedup seeding: posexplode each vector, aggregate each
    dimension with EXACT decimal sums (inputs quantized to 9 dp first,
    so cross-engine/partition association order can never matter),
    and report per-label centroid summaries.  Shuffle key is
    (label, dim) — dimension-parallel, never vector-at-a-time; at
    100 TB this partial-aggregates map-side like any numeric agg."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("idx0", "val")
    )
    dims = ex.groupBy("label", F.col("idx0").alias("idx")).agg(
        F.round(
            F.sum(F.round(F.col("val"), 9).cast("decimal(20,9)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mu")
    )
    return dims.groupBy("label").agg(
        F.count("*").cast("bigint").alias("dim"),
        F.round(F.sum(F.col("mu").cast("decimal(18,6)")), 6).cast("double").alias("centroid_sum"),
        F.round(F.min("mu"), 6).alias("centroid_min"),
        F.round(F.max("mu"), 6).alias("centroid_max"),
    )


# ---------------------------------------------------------------------------
# L2: incremental dedup of a delta batch against a historical index
# ---------------------------------------------------------------------------

INC_MOD = 5  # doc_id % 5 == 0 -> today's "delta" batch; rest -> history


def _inc_minhash_cte(name: str, src: str) -> str:

    hashes = ",\n             ".join(
        f"min(substring(md5(substring(text, t.i, {SHINGLE_LEN})), {1 + 8 * i}, 8)) AS h{i + 1}"
        for i in range(MINHASH_K)
    )
    return f"""
    {name} AS (
      SELECT doc_id,
             {hashes}
      FROM {src},
           unnest(generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1))) AS t(i)
      GROUP BY doc_id
    )"""


def _inc_oracle() -> str:
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} <> 0),
    delta AS (SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} = 0),
    bmd5 AS (SELECT DISTINCT md5(text) AS h FROM base),
    {_inc_minhash_cte("sigb", "base")},
    {_inc_minhash_cte("sigd", "delta")},
    bandsb AS (
      SELECT md5(h1 || h2) AS b FROM sigb
      UNION SELECT md5(h3 || h4) FROM sigb
    ),
    near AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, md5(h1 || h2) AS b FROM sigd
        UNION ALL SELECT doc_id, md5(h3 || h4) FROM sigd) d
      JOIN bandsb USING (b)
    )
    SELECT d.doc_id,
           CASE WHEN md5(d.text) IN (SELECT h FROM bmd5) THEN 'exact'
                WHEN d.doc_id IN (SELECT doc_id FROM near) THEN 'near'
                ELSE 'new' END AS verdict
    FROM delta d
    """


@query("l2_incremental_dedup", section="L2", oracle=_inc_oracle())
def l2_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-history) dedup — the production corpus
    shape: today's batch is checked against the EXISTING corpus index,
    never against itself all-pairs and never re-deduping history.
    Levels: exact (content md5 hit in the historical digest set) and
    near (shares a MinHash LSH band bucket with any historical doc —
    the candidate test the full Jaccard verify would follow).  Shuffle
    keys are digests and band buckets; at 100 TB the historical
    digest/band tables are a maintained index (bucketed or
    bloom-backed), and the delta side is small — the join prunes to
    delta-sized work."""

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % INC_MOD != 0)
    delta = d.filter(F.col("doc_id") % INC_MOD == 0)
    bmd5 = base.select(F.md5(F.col("text").cast("binary")).alias("h")).distinct()

    def bands(sig: DataFrame, keep_id: bool) -> DataFrame:
        b1 = sig.select(
            *(["doc_id"] if keep_id else []),
            F.md5(F.concat("h1", "h2").cast("binary")).alias("b"),
        )
        b2 = sig.select(
            *(["doc_id"] if keep_id else []),
            F.md5(F.concat("h3", "h4").cast("binary")).alias("b"),
        )
        return b1.unionByName(b2)

    # ONE shingle pass: signatures are per-doc, so the base/delta
    # split commutes with minhashing — and the two band projections
    # (b1 ∪ b2) of each side otherwise re-derive the whole explode
    # chain (4 minhash passes in one physical plan, measured).  The
    # checkpointed signature table is the maintained index of the
    # docstring's production shape.
    sig = minhash_signatures(d).localCheckpoint(eager=True)
    bandsb = bands(
        sig.filter(F.col("doc_id") % INC_MOD != 0), keep_id=False
    ).distinct()
    bandsd = bands(sig.filter(F.col("doc_id") % INC_MOD == 0), keep_id=True)
    near = bandsd.join(bandsb, "b").select("doc_id").distinct().withColumn(
        "is_near", F.lit(True)
    )
    exact = (
        delta.join(bmd5, F.md5(F.col("text").cast("binary")) == F.col("h"), "left")
        .select("doc_id", F.col("h").isNotNull().alias("is_exact"))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact")
            .when(F.col("is_near"), "near")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# L2: blocked fuzzy (edit-distance) join
# ---------------------------------------------------------------------------

FUZZY_LEV_MAX = 4

_FUZZY_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:3], ' ') AS title,
             (string_split(text, ' '))[1] AS blk,
             len(array_to_string((string_split(text, ' '))[1:3], ' ')) AS tl
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
    FROM t a JOIN t b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
         AND abs(a.tl - b.tl) <= {FUZZY_LEV_MAX}
    WHERE levenshtein(a.title, b.title) <= {FUZZY_LEV_MAX}
"""


def _fuzzy_pos_ub(spark, gram_rows, doc_a, doc_b):
    """Column: vectorized positional q-gram matched-count UPPER BOUND
    per candidate pair, computed from BROADCAST per-doc gram matrices
    so the Arrow stage ships only (doc_a, doc_b) id pairs — 16 bytes
    per candidate instead of two gram arrays (~5 GB at sf1 for 26M
    candidates; the ids are ~0.4 GB).

    ``gram_rows``: collected (doc_id, gcodes) rows — doc-count bounded
    (the corpus table itself, ~3 MB of int32 at sf1), the same
    broadcast-model class as cosine_sims' normalized matrix.

    Bound: for each a-gram, is there an equal b-gram hash within
    position offset ≤ d — and vice versa; returns min of the two
    directional counts (a true positional matching is injective both
    ways).  2·(2d+1) shifted whole-matrix comparisons per batch after
    fancy-indexing the broadcast matrix by the id columns.  The pad
    value (-2) and hash collisions can only OVER-count, and the filter
    prunes on ``ub < threshold``, so over-counts are lossless;
    per-row gram counts are masked exactly by the length vector."""
    import numpy as np

    d = FUZZY_LEV_MAX
    max_id = max(r.doc_id for r in gram_rows)
    maxlen = max((len(r.gcodes) for r in gram_rows), default=1)
    mat = np.full((max_id + 1, max(maxlen, 1)), -2, dtype=np.int64)
    lens = np.zeros(max_id + 1, dtype=np.int64)
    for r in gram_rows:
        g = r.gcodes
        mat[r.doc_id, : len(g)] = g
        lens[r.doc_id] = len(g)
    bc = spark.sparkContext.broadcast((mat, lens))

    def fn(ida, idb):
        import pandas as pd

        m, ln = bc.value
        ia = ida.to_numpy(dtype=np.int64)
        ib = idb.to_numpy(dtype=np.int64)
        a, b = m[ia], m[ib]
        la, lb = ln[ia], ln[ib]
        L = m.shape[1]
        matched_a = np.zeros(a.shape, dtype=bool)
        matched_b = np.zeros(b.shape, dtype=bool)
        for s in range(-d, d + 1):
            lo, hi = max(0, -s), min(L, L - s)
            if hi > lo:
                eq = a[:, lo:hi] == b[:, lo + s : hi + s]
                matched_a[:, lo:hi] |= eq
                matched_b[:, lo + s : hi + s] |= eq
        pos = np.arange(L)[None, :]
        matched_a &= pos < la[:, None]
        matched_b &= pos < lb[:, None]
        ub = np.minimum(matched_a.sum(axis=1), matched_b.sum(axis=1))
        return pd.Series(ub.astype("int32"))

    # built lazily: pandas_udf construction requires an active session,
    # and this module imports before any session exists
    return F.pandas_udf(fn, "integer")(doc_a, doc_b)


@query("l2_fuzzy_title_join", section="L2", oracle=_FUZZY_ORACLE)
def l2_fuzzy_title_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join — the entity-resolution primitive:
    find document pairs whose 3-word 'titles' are within edit distance
    {d}.  All-pairs Levenshtein is O(N²·L²) and impossible at scale;
    the standard mitigation is BLOCKING — here an equi-join on the
    first token plus a length-band filter (|Δlen| ≤ {d} is a lower
    bound on edit distance, so the band is lossless) — which turns the
    cartesian into a shuffle-keyed equi-join whose candidate count is
    Σ per-block quadratics, the same cost shape as the n-gram
    prefix-filter and SemDeDup cells.

    Between the length band and the verify sit TWO lossless filters,
    cheapest first, from per-doc features built ONCE before the pair
    fan-out (Gravano et al., VLDB'01 / Xiao et al. ED-Join, VLDB'08):

    1. CHARACTER count filter (q=1): one edit perturbs the character
       multiset by ≤2 in L1, so lev ≥ L1_chars/2; 8 alphabet buckets
       (translate+length), 8 integer diffs per candidate, pure
       whole-stage codegen (381.7k block+band pairs → 261.5k at
       sf0.1).
    2. POSITIONAL q-gram bound (the edit-distance analogue of the
       containment entry's PPJoin-suffix filter): if lev ≤ d then the
       titles share ≥ max(na,nb) − d·q positional 2-grams matching
       within position offset ≤ d (each edit destroys ≤q positional
       grams and shifts alignments by ≤d).  The per-pair upper bound
       min(|a-grams matched in b's ±{d} window|, |b-grams matched in
       a's|) over-counts the true injective matching, so pruning on
       ``ub < max(na,nb) − d·q`` is lossless.  It runs as a VECTORIZED
       Arrow pandas UDF over pre-hashed gram-code arrays (2·(2d+1)
       shifted numpy array comparisons per batch) — expressing it as a
       higher-order SQL expression de-codegens the entire merged join
       filter and re-evaluates per-doc transforms per PAIR (measured
       25 s vs ~2 s at sf0.1).  This is the only filter that
       discriminates inside the lev 5–8 band (count filters are
       structurally blind there: a single same-length word replacement
       moves ~6 grams, inside every count budget): it prunes the
       two-word-change lev ≥ 7 mass, cutting candidates reaching the
       DP to 52.9k for 12.8k matches at sf0.1 (4.1×, from 20.4× —
       the corpus floor for ANY lossless filter is ~2.9×: the 23.9k
       lev 5–6 single-word-replacement pairs sit inside the d·q
       positional budget and are indistinguishable without the DP).

    The verify itself is the BANDED threshold Levenshtein
    (``F.levenshtein(ta, tb, {d})``, Spark ≥ 3.5): O((2d+1)·L) with
    early abandon instead of the O(L²) full DP, returning the exact
    distance for kept rows and −1 above the threshold — so the filter
    stack bounds candidate volume and the band bounds per-candidate
    cost.

    Scale note (measured, SCALE_r05.json): on the synthetic corpus the
    TRUE match set itself grows quadratically (40-word vocabulary ⇒
    title collisions; 12.8k pairs at sf0.1 → 1.27M at sf1, 99×), so
    wall grows super-linearly because the OUTPUT does — any correct
    algorithm is Ω(output).  Candidate-to-match ratio is the metric
    that must stay flat, and the positional bound ties it to output
    (lev histogram of block+band pairs at sf0.1: 12.8k ≤4, 130.6k in
    5–8, 238.3k ≥9 — the char filter thins the ≥9 mass, the positional
    bound removes the rest of it plus the 7–8 band).  On a
    high-entropy corpus the cost tracks true duplicate density
    instead."""
    d = load_table(spark, sf_dir, "documents")
    # repartition BEFORE the pair fan-out: the block join multiplies
    # each probe row into ~|block| candidates, and the pre-join stage
    # inherits the scan's partitioning — a single-file corpus would run
    # the entire candidate explosion in ONE task (measured: 96 s → 9 s
    # at sf1).  Same lesson as llm.minhash_signatures' shingle explode.
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    words = F.split("text", " ")
    buckets = ["abcd", "efgh", "ijkl", "mnop", "qrst", "uvwx", "yz", "0123456789"]
    # per-doc features, CACHED as a materialization barrier: without
    # it, CollapseProject + predicate pushdown inline the higher-order
    # gram expression into the post-join candidate stage, re-evaluating
    # a per-DOC transform once per candidate PAIR (measured 20 s vs
    # 2 s at sf0.1) — and a higher-order expression inside the merged
    # join filter additionally de-codegens the whole stage
    t = d.select(
        "doc_id",
        F.array_join(F.slice(words, 1, 3), " ").alias("title"),
        F.element_at(words, 1).alias("blk"),
    ).select(
        "doc_id",
        "title",
        "blk",
        F.length("title").alias("tl"),
        *[
            (F.length("title") - F.length(F.translate("title", chars, ""))).alias(
                f"q{i}"
            )
            for i, chars in enumerate(buckets)
        ],
        # positional 2-gram HASH array, once per doc, for the
        # positional-bound UDF (hash equality is a superset of gram
        # equality, so over-matching only weakens pruning, never
        # correctness)
        F.transform(
            F.sequence(F.lit(1), F.length("title") - 1),
            lambda i: F.hash(F.substr(F.col("title"), i, F.lit(2))),
        ).alias("gcodes"),
        # eager localCheckpoint, NOT cache(): same materialization
        # barrier (a LogicalRDD cannot be CollapseProject-inlined into
        # the candidate stage), but RDD-keyed — a leaked plan-keyed
        # cache would serve later identical runs for free (the g9
        # round-12 honesty finding)
    ).localCheckpoint(eager=True)
    # the fan-out carries ONLY ids, lengths, and the 8 char buckets
    # (~90 bytes/candidate): gram arrays reach the positional UDF via
    # a broadcast per-doc matrix (collected from the cached t — doc-
    # count bounded, ~3 MB at sf1), and title strings join back onto
    # the filtered survivors only
    a = t.select(
        F.col("doc_id").alias("doc_a"),
        F.col("blk"),
        F.col("tl").alias("la"),
        *[F.col(f"q{i}").alias(f"qa{i}") for i in range(len(buckets))],
    )
    b = t.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk"),
        F.col("tl").alias("lb"),
        *[F.col(f"q{i}").alias(f"qb{i}") for i in range(len(buckets))],
    )
    l1c = sum(F.abs(F.col(f"qa{i}") - F.col(f"qb{i}")) for i in range(len(buckets)))
    dmax = FUZZY_LEV_MAX
    pos_threshold = F.greatest(F.col("la"), F.col("lb")) - 1 - 2 * dmax
    gram_rows = t.select("doc_id", "gcodes").collect()  # doc-count bounded
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("title").alias("ta"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("title").alias("tb"))
    survivors = (
        a.join(b, "blk")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= dmax)
            # count filter: lev >= L1_chars/2, so bucketed L1 > 2d
            # cannot match — pure codegen integer diffs per candidate
            & (l1c <= 2 * dmax)
        )
        # the positional bound runs as an ARROW-BATCHED pandas UDF, not
        # a higher-order SQL expression: an interpreted expression in
        # this filter would de-codegen the ENTIRE merged filter
        # (CombineFilters folds adjacent filters into one conjunct),
        # dropping the whole fan-out to interpreted evaluation —
        # measured 25 s vs ~2 s at sf0.1.  The UDF-result filter cannot
        # be combined into the codegen'd filter above it, so the cheap
        # filters gate the UDF.
        .withColumn(
            "mub", _fuzzy_pos_ub(spark, gram_rows, F.col("doc_a"), F.col("doc_b"))
        )
        .filter((pos_threshold <= 0) | (F.col("mub") >= pos_threshold))
        .select("doc_a", "doc_b")
    )
    return (
        survivors.join(F.broadcast(ta), "doc_a")
        .join(F.broadcast(tb), "doc_b")
        # project the distance BEFORE filtering on it: filter and
        # project are separate operators, so an expression repeated in
        # both is computed twice per candidate (measured 2x on 38M
        # candidates at sf1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb", dmax).cast("int").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


l2_fuzzy_title_join.__doc__ = l2_fuzzy_title_join.__doc__.format(
    d=FUZZY_LEV_MAX
)


# ---------------------------------------------------------------------------
# L4: reciprocal-rank fusion of two retrieval rankings
# ---------------------------------------------------------------------------

RRF_C = 60  # the standard Cormack/Clarke/Buettcher constant


def _rrf_oracle() -> str:
    return f"""
    WITH bm AS ({_BM25_ORACLE}),
    ann AS ({COSINE_TOPK_ORACLE}),
    u AS (
      SELECT coalesce(bm.doc_id, ann.vec_id) AS id, bm.rank AS ra, ann.rank AS rb
      FROM bm FULL OUTER JOIN ann ON ann.vec_id = bm.doc_id
    )
    SELECT id,
           CAST(CAST(coalesce(round(1.0 / ({RRF_C} + ra), 6), 0) AS DECIMAL(18,6))
              + CAST(coalesce(round(1.0 / ({RRF_C} + rb), 6), 0) AS DECIMAL(18,6))
              AS DOUBLE) AS rrf,
           (ra IS NOT NULL) AS in_lexical,
           (rb IS NOT NULL) AS in_semantic
    FROM u
    """


@query("l4_rrf_fusion", section="L4", oracle=_rrf_oracle())
def l4_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
    ranked lists — the standard way hybrid retrieval merges a lexical
    (BM25) and a semantic (embedding top-k) ranking without score
    calibration: rrf(d) = Σ 1/(c + rank_i(d)), c=60.

    The two input rankings are the catalog's own `l4_bm25_topk` and
    `l3_cosine_topk` entries composed as subplans (doc_id and vec_id
    share the id space in the testdata), so the fusion oracle nests
    their oracle SQL verbatim — operator composition checked
    end-to-end.  Each reciprocal is one IEEE division rounded to 6 dp,
    then the two-term sum is exact decimal; the join of two top-k
    lists is trivially broadcast at any corpus size (fusion cost is
    O(k), independent of the corpus)."""
    bm = l4_bm25_topk(spark, sf_dir).select("doc_id", F.col("rank").alias("ra"))
    ann = (
        registry()["l3_cosine_topk"].spark_fn(spark, sf_dir)
        .select("vec_id", F.col("rank").alias("rb"))
    )
    u = bm.join(ann, bm.doc_id == ann.vec_id, "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("id"), "ra", "rb"
    )
    rec_a = F.coalesce(F.round(F.lit(1.0) / (F.lit(RRF_C) + F.col("ra")), 6), F.lit(0.0))
    rec_b = F.coalesce(F.round(F.lit(1.0) / (F.lit(RRF_C) + F.col("rb")), 6), F.lit(0.0))
    return u.select(
        "id",
        (rec_a.cast("decimal(18,6)") + rec_b.cast("decimal(18,6)")).cast("double").alias("rrf"),
        F.col("ra").isNotNull().alias("in_lexical"),
        F.col("rb").isNotNull().alias("in_semantic"),
    )


# ---------------------------------------------------------------------------
# L4: bigram conditional surprisal (first-order LM quality signal)
# ---------------------------------------------------------------------------

_BIGRAM_SURPRISAL_ORACLE = """
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i])) AS w1,
             unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i + 1])) AS w2
      FROM ws
    ),
    tf AS (
      SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY doc_id, w1, w2
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    srp AS (
      SELECT c2.w1, c2.w2,
             -round(ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)), 6) AS s
      FROM c2 JOIN c1 USING (w1)
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(s.s AS DECIMAL(18,6)) * tf.tf) AS DOUBLE)
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_surprisal
    FROM tf JOIN srp s ON s.w1 = tf.w1 AND s.w2 = tf.w2
    GROUP BY tf.doc_id
"""


@query("l4_bigram_surprisal", section="L4", oracle=_BIGRAM_SURPRISAL_ORACLE)
def l4_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average CONDITIONAL surprisal −ln p(wᵢ|wᵢ₋₁)
    under the corpus's own bigram model — one order up from
    `l4_unigram_surprisal`, and the plan template for any n: the
    conditional denominator is the (n−1)-gram PREFIX count derived
    from the same bigram instances, so the distribution normalizes
    exactly.  Bigrams use the lambda-free arrays_zip fan-out
    (l4_top_bigram's codegen form); model counts key on (w1, w2) —
    broadcastable at this vocabulary, a token-keyed shuffle join at
    web scale.  Same quantized-ln + exact-decimal discipline as the
    unigram entry."""
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
        "doc_id", F.col("z.`0`").alias("w1"), F.col("z.`1`").alias("w2")
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    srp = c2.join(c1, "w1").select(
        "w1",
        "w2",
        (-F.round(F.log(F.col("c2").cast("double") / F.col("c1").cast("double")), 6)).alias(
            "s"
        ),
    )
    return (
        tf.join(F.broadcast(srp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)") * F.col("tf")).cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# L3: int8 scalar quantization of embeddings (SQ storage path)
# ---------------------------------------------------------------------------

_SQ8_ORACLE = """
    WITH ex AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
             unnest(generate_series(1, len(embedding))) AS idx
      FROM embeddings
    ),
    rng AS (
      SELECT idx, min(val) AS lo, max(val) AS hi FROM ex GROUP BY idx
    ),
    q AS (
      SELECT e.vec_id, e.idx,
             CAST(round(((e.val - r.lo) / (r.hi - r.lo)) * 255.0, 0) AS INTEGER) AS code,
             e.val, r.lo, r.hi
      FROM ex e JOIN rng r USING (idx)
    ),
    err AS (
      SELECT vec_id,
             round(abs(val - (lo + (CAST(code AS DOUBLE) / 255.0) * (hi - lo))), 9) AS ae,
             code
      FROM q
    )
    SELECT vec_id,
           CAST(min(code) AS INTEGER) AS code_min,
           CAST(max(code) AS INTEGER) AS code_max,
           CAST(sum(CAST(ae AS DECIMAL(20,9))) AS DOUBLE) AS abs_err_sum
    FROM err GROUP BY vec_id
"""


@query("l3_sq8_quantize", section="L3", oracle=_SQ8_ORACLE)
def l3_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the SIMPLE
    vector-compression path next to PQ (8× smaller, one code per
    dimension against per-dimension corpus min/max): quantize, then
    report per-vector code range and total absolute reconstruction
    error.  The dimension-range table is KB-sized and broadcast; the
    quantize/dequantize round-trip is pure column arithmetic.  Error
    terms are rounded to 9 dp and summed as exact decimal.

    Determinism note: `(val−lo)/(hi−lo)·255` rounded half-away — the
    only cross-engine channel is a value landing within an ulp of a
    .5 code boundary, the same accepted-improbable class as the ANN
    entries' distance ties."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val")
    )
    rng = ex.groupBy("idx").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    q = ex.join(F.broadcast(rng), "idx").select(
        "vec_id",
        "val",
        "lo",
        "hi",
        F.round(((F.col("val") - F.col("lo")) / (F.col("hi") - F.col("lo"))) * 255.0, 0)
        .cast("int")
        .alias("code"),
    )
    err = q.select(
        "vec_id",
        "code",
        F.round(
            F.abs(
                F.col("val")
                - (F.col("lo") + (F.col("code").cast("double") / 255.0) * (F.col("hi") - F.col("lo")))
            ),
            9,
        ).alias("ae"),
    )
    return err.groupBy("vec_id").agg(
        F.min("code").cast("int").alias("code_min"),
        F.max("code").cast("int").alias("code_max"),
        F.sum(F.col("ae").cast("decimal(20,9)")).cast("double").alias("abs_err_sum"),
    )


# ---------------------------------------------------------------------------
# L4: PMI collocations (top co-occurring word pairs)
# ---------------------------------------------------------------------------

PMI_TOP_K = 20
PMI_MIN_COUNT = 5

_PMI_ORACLE = f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i])) AS w1,
             unnest(list_transform(generate_series(1, len(a) - 1), i -> a[i + 1])) AS w2
      FROM ws
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
    c2 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
    u1 AS (SELECT w1 AS w, count(*) AS c FROM bg GROUP BY w1),
    u2 AS (SELECT w2 AS w, count(*) AS c FROM bg GROUP BY w2),
    pmi AS (
      SELECT c2.w1, c2.w2, CAST(c2.c AS BIGINT) AS pair_count,
             round(ln((CAST(c2.c AS DOUBLE) * CAST(n.nb AS DOUBLE))
                      / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
      FROM c2 JOIN u1 ON u1.w = c2.w1 JOIN u2 ON u2.w = c2.w2 CROSS JOIN n
      WHERE c2.c >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, pair_count, pmi, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rnk FROM pmi)
    WHERE rnk <= {PMI_TOP_K}
"""


@query("l4_pmi_collocations", section="L4", oracle=_PMI_ORACLE)
def l4_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} collocations by pointwise mutual information —
    ``ln(p(w1,w2) / (p(w1)·p(w2)))`` over adjacent word pairs with a
    min-count floor (Church & Hanks, 1990): the standard statistical
    phrase/tokenizer-merge signal.  Corpus-level aggregations on
    token-pair keys, two vocabulary-sized marginal joins, one
    TakeOrderedAndProject; the ln is a single quantized call on an
    exact integer ratio (both engines compute the identical double
    quotient first)."""
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("a"))
    bigrams = F.when(
        F.size("a") >= 2,
        F.expr(
            "CAST(slice(arrays_zip(a, slice(a, 2, greatest(size(a) - 1, 0))),"
            " 1, greatest(size(a) - 1, 1)) AS array<struct<`0` string, `1` string>>)"
        ),
    ).otherwise(F.array().cast("array<struct<`0` string, `1` string>>"))
    bg = ws.select(F.explode(bigrams).alias("z")).select(
        F.col("z.`0`").alias("w1"), F.col("z.`1`").alias("w2")
    )
    n = bg.agg(F.count("*").alias("nb"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c")).filter(
        F.col("c") >= PMI_MIN_COUNT
    )
    u1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    u2 = bg.groupBy("w2").agg(F.count("*").alias("c2"))
    pmi = (
        c2.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c").cast("double") * F.col("nb").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return (
        pmi.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
        .limit(PMI_TOP_K)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


l4_pmi_collocations.__doc__ = l4_pmi_collocations.__doc__.format(k=PMI_TOP_K)


# ---------------------------------------------------------------------------
# L3: ANN serving over int8-quantized vectors (SQ search path)
# ---------------------------------------------------------------------------


def _sq8_ann_oracle() -> str:

    return f"""
    WITH ex AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
             unnest(generate_series(1, len(embedding))) AS idx
      FROM embeddings
    ),
    rng AS (
      SELECT idx, min(val) AS lo, max(val) AS hi FROM ex GROUP BY idx
    ),
    deq AS (
      SELECT e.vec_id, e.idx,
             r.lo + (CAST(CAST(round(((e.val - r.lo) / (r.hi - r.lo)) * 255.0, 0)
                          AS INTEGER) AS DOUBLE) / 255.0) * (r.hi - r.lo) AS dv
      FROM ex e JOIN rng r USING (idx)
    ),
    rec AS (
      SELECT vec_id, list(dv ORDER BY idx) AS v FROM deq GROUP BY vec_id
    ),
    qv AS (SELECT v FROM rec WHERE vec_id = {ANN_QUERY_VEC}),
    scored AS (
      SELECT r.vec_id, round(list_cosine_similarity(r.v, qv.v), 6) AS sim
      FROM rec r, qv WHERE r.vec_id <> {ANN_QUERY_VEC}
    )
    SELECT vec_id, sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT vec_id, sim, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM scored) WHERE rank <= {ANN_K}
    """


@query("l3_ann_sq8_topk", section="L3", oracle=_sq8_ann_oracle())
def l3_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over int8-RECONSTRUCTED vectors — the serving half
    of scalar quantization (l3_sq8_quantize is the storage half): the
    scan reads 8×-smaller codes, dequantizes per dimension against the
    KB-sized range table inside the plan, and ranks by cosine on the
    reconstruction.  Both query and corpus go through the same
    quantizer (symmetric SQ), so distances degrade gracefully with
    quantization error rather than biasing one side.  Same query
    vector / k as the other ANN entries for direct comparison."""
    from chronicle_sniffer_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "val")
    )
    rng = ex.groupBy("idx").agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
    deq = ex.join(F.broadcast(rng), "idx").select(
        "vec_id",
        "idx",
        (
            F.col("lo")
            + (
                F.round(
                    ((F.col("val") - F.col("lo")) / (F.col("hi") - F.col("lo"))) * 255.0,
                    0,
                )
                .cast("int")
                .cast("double")
                / 255.0
            )
            * (F.col("hi") - F.col("lo"))
        ).alias("dv"),
    )
    rec = deq.groupBy("vec_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("idx"), F.col("dv")))
        ).getField("dv").alias("v")
    )
    qv = rec.filter(F.col("vec_id") == ANN_QUERY_VEC).collect()[0].v
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    scored = rec.filter(F.col("vec_id") != ANN_QUERY_VEC).select(
        "vec_id", F.round(cosine(F.col("v"), qcol), 6).alias("sim")
    )
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(ANN_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# L4: pairwise source vocabulary overlap (corpus diagnostics)
# ---------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = """
    WITH v AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    sizes AS (SELECT source, count(*) AS n FROM v GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
"""


@query("l4_source_vocab_overlap", section="L4", oracle=_SRC_OVERLAP_ORACLE)
def l4_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between SOURCES — the corpus-level
    diagnostic behind mixing decisions (two sources with ~identical
    vocabularies are redundant; a near-zero overlap flags a domain or
    language split).  The pair join is an inverted-index join on the
    TOKEN (the n-gram-Jaccard trick one level up: sources sharing a
    token meet in that token's posting list), never a source×source
    cross join; posting lists are df-bounded by construction since a
    (source, token) pair appears once."""
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("src_a"), "w")
    b = v.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("source", "src_a")), "src_a")
        .withColumnRenamed("n", "na")
        .join(
            F.broadcast(
                sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n", "nb")
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.round(
                F.col("n_inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# L6: Moore-Lewis cross-entropy-difference data selection
# ---------------------------------------------------------------------------

ML_IN_DOMAIN_LANG = "en"

_MOORE_LEWIS_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM words),
    cin AS (
      SELECT w, count(*) AS c FROM words
      WHERE lang = '{ML_IN_DOMAIN_LANG}' GROUP BY w
    ),
    nin AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words
            WHERE lang = '{ML_IN_DOMAIN_LANG}'),
    cgen AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    ngen AS (SELECT CAST(count(*) AS BIGINT) AS n FROM words),
    delta AS (
      SELECT g.w,
             CAST(round(ln((CAST(coalesce(i.c, 0) + 1 AS DOUBLE))
                           / (CAST(nin.n + vocab.v AS DOUBLE))) * 1000000) AS BIGINT)
           - CAST(round(ln((CAST(g.c + 1 AS DOUBLE))
                           / (CAST(ngen.n + vocab.v AS DOUBLE))) * 1000000) AS BIGINT)
               AS d_mic
      FROM cgen g LEFT JOIN cin i ON i.w = g.w
      CROSS JOIN nin CROSS JOIN ngen CROSS JOIN vocab
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ),
    sums AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf) AS BIGINT) AS n,
             CAST(sum(d.d_mic * tf.tf) AS BIGINT) AS num
      FROM tf JOIN delta d USING (w)
      GROUP BY tf.doc_id
    )
    SELECT doc_id,
           n AS n_tokens,
           CAST(CASE WHEN num < 0 THEN -((2 * (-num) + n) // (2 * n))
                     ELSE (2 * num + n) // (2 * n) END AS DOUBLE)
             / 1000000.0 AS ce_diff
    FROM sums
"""


@query("l6_moore_lewis_select", section="L6", oracle=_MOORE_LEWIS_ORACLE)
def l6_moore_lewis_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore–Lewis cross-entropy-difference selection (Moore & Lewis,
    ACL 2010) — the classic 'pick general-corpus documents that look
    like the in-domain corpus' scorer: per token,
    ln p_in(w) − ln p_gen(w) under Laplace-smoothed unigram models
    (in-domain = the '{lang}' slice; shared vocabulary size V in both
    smoothers), tf-weighted per doc.  Higher ce_diff ⇒ more in-domain.

    Shapes: two vocabulary-sized model aggregations and a token-keyed
    per-doc join — the same broadcastable-model / partial-agg skeleton
    as the surprisal entries.  Numeric determinism is INTEGER
    end-to-end after the one libm call: each ln is quantized to
    micro-nats (round(ln·1e6) → BIGINT), the tf-weighted per-doc sum
    is exact BIGINT, and the per-token mean rounds half-away in
    integer arithmetic ((2·|num|+n) div (2·n)) before one exact
    /1e6 — the earlier round(double_sum/double_n, 6) flaked at sf0.1
    when the true quotient sat on a 6-dp boundary and Spark's
    BigDecimal HALF_UP disagreed with DuckDB's multiply-nearbyint
    (CROSS_SF_r10.json, doc 1676: -0.008116 vs -0.008115)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = words.agg(F.countDistinct("w").alias("v"))
    cin = (
        words.filter(F.col("lang") == ML_IN_DOMAIN_LANG).groupBy("w").agg(
            F.count("*").alias("ci")
        )
    )
    nin = words.filter(F.col("lang") == ML_IN_DOMAIN_LANG).agg(
        F.count("*").alias("ni")
    )
    cgen = words.groupBy("w").agg(F.count("*").alias("cg"))
    ngen = words.agg(F.count("*").alias("ng"))
    delta = (
        cgen.join(cin, "w", "left")
        .crossJoin(F.broadcast(nin))
        .crossJoin(F.broadcast(ngen))
        .crossJoin(F.broadcast(vocab))
        .select(
            "w",
            (
                F.round(
                    F.log(
                        (F.coalesce("ci", F.lit(0)) + 1).cast("double")
                        / (F.col("ni") + F.col("v")).cast("double")
                    )
                    * 1000000
                ).cast("bigint")
                - F.round(
                    F.log(
                        (F.col("cg") + 1).cast("double")
                        / (F.col("ng") + F.col("v")).cast("double")
                    )
                    * 1000000
                ).cast("bigint")
            ).alias("d_mic"),
        )
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    sums = (
        tf.join(F.broadcast(delta), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n"),
            F.sum(F.col("d_mic") * F.col("tf")).alias("num"),
        )
    )
    # integer half-away-from-zero mean in micro-nats, then one exact
    # /1e6 — `div` (Spark) and `//` (DuckDB) agree on non-negative
    # operands, so the sign is peeled first
    return sums.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        (
            F.expr(
                "CASE WHEN num < 0 THEN -((2 * (-num) + n) div (2 * n))"
                " ELSE (2 * num + n) div (2 * n) END"
            ).cast("double")
            / 1000000.0
        ).alias("ce_diff"),
    )


l6_moore_lewis_select.__doc__ = l6_moore_lewis_select.__doc__.format(lang=ML_IN_DOMAIN_LANG)


# ---------------------------------------------------------------------------
# L4: MMR (maximal-marginal-relevance) diversified rerank
# ---------------------------------------------------------------------------

MMR_QUERY_VEC = 0
MMR_CAND = 12
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL: candidate CTE (top-{MMR_CAND} by
    cosine), symmetric pair-sim CTE, then one pick/sel CTE pair per
    greedy step (argmax of λ·rel − (1−λ)·max-sim-to-selected, ties to
    lowest id)."""
    steps = []
    for i in range(2, MMR_K + 1):
        steps.append(
            f"""
    sc{i} AS (
      SELECT r.vec_id, r.rel,
             round({MMR_LAMBDA} * r.rel - {round(1 - MMR_LAMBDA, 10)} *
                   (SELECT max(p.sim) FROM p, sel{i - 1} s
                    WHERE p.a = r.vec_id AND p.b = s.vec_id), 6) AS mmr
      FROM cands r WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    ),
    pick{i} AS (
      SELECT vec_id, rel, mmr, {i} AS pick_order FROM sc{i}
      ORDER BY mmr DESC, vec_id LIMIT 1
    ),
    sel{i} AS (
      SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM pick{i}
    )"""
        )
    picks = " UNION ALL ".join(
        f"SELECT vec_id, rel, mmr, pick_order FROM pick{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {MMR_QUERY_VEC}
    ),
    cands AS (
      SELECT vec_id, rel FROM (
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS rel,
               row_number() OVER (
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                          e.vec_id) AS rnk
        FROM embeddings e, q WHERE e.vec_id <> {MMR_QUERY_VEC})
      WHERE rnk <= {MMR_CAND}
    ),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 6) AS sim
      FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    pick1 AS (
      SELECT vec_id, rel, round({MMR_LAMBDA} * rel, 6) AS mmr, 1 AS pick_order
      FROM cands ORDER BY mmr DESC, vec_id LIMIT 1
    ),
    sel1 AS (SELECT vec_id FROM pick1),
    {",".join(steps)}
    SELECT vec_id, rel, mmr, CAST(pick_order AS INTEGER) AS pick_order FROM ({picks})
    """


@query("l4_mmr_rerank", section="L4", oracle=_mmr_oracle())
def l4_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    1998): greedily pick k results maximizing λ·relevance −
    (1−λ)·max-similarity-to-already-picked — the standard diversity
    pass over a retrieval candidate list.

    Scale split: candidate GENERATION is the distributed part (here
    the cosine top-MMR_CAND scan, interchangeable with any ANN entry);
    the greedy rerank operates on the k-sized candidate list, which is
    driver-sized BY DEFINITION (k ≪ corpus, cost O(k²) independent of
    corpus size) — the same bounded-collect class as the IVF probe
    choice.  Candidate sims are numpy with the half-away 6-dp rounding
    that matches both engines' round(); the oracle unrolls the greedy
    loop step by step."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = vecs.filter(F.col("vec_id") == MMR_QUERY_VEC).collect()[0].v
    qcol = F.array(*[F.lit(x) for x in q])
    from chronicle_sniffer_spark.operators.similarity import cosine

    cand_rows = (
        vecs.filter(F.col("vec_id") != MMR_QUERY_VEC)
        .select("vec_id", F.round(cosine(F.col("v"), qcol), 6).alias("rel"), "v")
        .orderBy(F.col("rel").desc(), F.col("vec_id"))
        .limit(MMR_CAND)
        .collect()  # bounded: MMR_CAND rows by construction
    )
    ids = [r.vec_id for r in cand_rows]
    rel = {r.vec_id: r.rel for r in cand_rows}
    x = np.array([r.v for r in cand_rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0
    xn = x / norms[:, None]
    raw = xn @ xn.T
    simm = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
    idx = {v: i for i, v in enumerate(ids)}

    def round6(val: float) -> float:
        import math

        return math.copysign(math.floor(abs(val) * 1e6 + 0.5) / 1e6, val)

    picks: list[tuple[int, float, float, int]] = []
    selected: list[int] = []
    for step in range(1, MMR_K + 1):
        best = None
        for v in ids:
            if v in selected:
                continue
            if selected:
                maxsim = max(float(simm[idx[v], idx[s]]) for s in selected)
                score = round6(MMR_LAMBDA * rel[v] - round(1 - MMR_LAMBDA, 10) * maxsim)
            else:
                score = round6(MMR_LAMBDA * rel[v])
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        _, v, score = best
        picks.append((v, rel[v], score, step))
        selected.append(v)
    return spark.createDataFrame(
        picks, "vec_id long, rel double, mmr double, pick_order int"
    )


# ---------------------------------------------------------------------------
# L4: unigram surprisal (perplexity-style quality signal)
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w
    ),
    cnt AS (SELECT w, count(*) AS cw FROM words GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM words),
    srp AS (
      SELECT w,
             -round(ln(CAST(cw AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS s
      FROM cnt CROSS JOIN tot
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(s.s AS DECIMAL(18,6)) * tf.tf) AS DOUBLE)
                 / CAST(sum(tf.tf) AS DOUBLE), 6) AS avg_surprisal
    FROM tf JOIN srp s USING (w)
    GROUP BY tf.doc_id
"""


@query("l4_unigram_surprisal", section="L4", oracle=_SURPRISAL_ORACLE)
def l4_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram surprisal (-ln p, nats) under the
    corpus's own unigram model — the perplexity-style quality signal
    LLM pipelines filter on (CCNet / LLaMA-style data prep ranks docs
    by LM perplexity; a unigram model is its shuffle-free degenerate
    case, and the plan shape is identical for any broadcastable
    n-gram model).

    Shapes: token-keyed tf agg, a vocabulary-sized broadcast of
    per-token surprisals, one doc-keyed partial-agg — shuffle keys are
    tokens and doc ids only.  Determinism: ln is quantized to 6 dp on
    both engines (the BM25 lesson — JVM and C libm differ in the last
    ulp), per-token surprisal × tf stays in exact DECIMAL, and only
    the final per-doc mean divides as double."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    cnt = words.groupBy("w").agg(F.count("*").alias("cw"))
    tot = words.agg(F.count("*").alias("total"))
    srp = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        (-F.round(F.log(F.col("cw").cast("double") / F.col("total").cast("double")), 6)).alias(
            "s"
        ),
    )
    return (
        tf.join(F.broadcast(srp), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)") * F.col("tf")).cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# L6: Efraimidis–Spirakis weighted sampling without replacement
# ---------------------------------------------------------------------------

ES_SAMPLE_K = 50
_ES_A, _ES_M = 48271, 2147483647  # Lehmer (same generator family as l6 sampling)

_ES_ORACLE = f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS weight,
             (CAST((doc_id * {_ES_A}) % {_ES_M} AS DOUBLE) + 1.0)
               / {_ES_M + 1}.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, weight,
             round(-round(ln(u), 9) / weight, 9) AS priority
      FROM w
    )
    SELECT doc_id, weight, priority, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rnk FROM keyed)
    WHERE rnk <= {ES_SAMPLE_K}
"""


@query("l6_weighted_sample_es", section="L6", oracle=_ES_ORACLE)
def l6_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    priorities (Inf. Proc. Letters 2006): each item draws
    u ∈ (0, 1] and keeps key −ln(u)/w; the k smallest keys are an
    exact weighted sample.  One pass, no coordination — THE way to
    draw a weighted sample from 100 TB in a single distributed top-k
    (TakeOrderedAndProject), with token count as the weight (sampling
    ∝ document length).

    Deterministic/seed-free like every sampler here: u comes from a
    Lehmer hash of doc_id, not an RNG; the ln is quantized (9 dp — the
    priority feeds an order-by, so the quantization only needs to be
    identical, not precise) and the division is single-IEEE."""
    d = load_table(spark, sf_dir, "documents")
    u = (((F.col("doc_id") * _ES_A) % _ES_M).cast("double") + 1.0) / float(_ES_M + 1)
    weight = F.size(F.split("text", " ")).cast("double")
    keyed = d.select(
        "doc_id",
        weight.alias("weight"),
        F.round(-F.round(F.log(u), 9) / weight, 9).alias("priority"),
    )
    w = Window.orderBy(F.col("priority").asc(), F.col("doc_id"))
    return (
        keyed.orderBy(F.col("priority").asc(), F.col("doc_id"))
        .limit(ES_SAMPLE_K)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# TS7: median/MAD robust outlier detection
# ---------------------------------------------------------------------------

MAD_K = 3.0

_MAD_ORACLE = f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM events
      GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             round(abs(e.value - m.med), 6) AS ad
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad FROM dev
      GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value,
           round(d.med, 6) AS med, m.mad
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.ad > {MAD_K} * m.mad
"""


@query("ts7_mad_outliers", section="TS", oracle=_MAD_ORACLE)
def ts7_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event type — the
    breakdown-resistant complement to the z-score entry (a single
    extreme value can't move a median the way it moves a mean/σ):
    flag events with |x − median| > {k}·MAD.

    Exact medians via `percentile(…, 0.5)` — verified bit-identical to
    DuckDB's `quantile_cont` (both linearly interpolate the same
    multiset).  Two group-sized aggregations broadcast back onto the
    event scan; at 100 TB exact per-group medians come from the same
    shuffle as any sort-based agg (or approx_percentile when the
    ±ε tradeoff is acceptable)."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("ad") > MAD_K * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 6).alias("med"),
            "mad",
        )
    )


ts7_mad_outliers.__doc__ = ts7_mad_outliers.__doc__.format(k=MAD_K)


# ---------------------------------------------------------------------------
# TS6: per-user behavioral entropy (diversity metric)
# ---------------------------------------------------------------------------

# Shannon entropy of each user's event-type distribution (nats) — the
# behavioral-diversity metric segmentation and anomaly triage rank on.
# Two key-sized aggregations; per-term −p·ln p is quantized then summed
# as exact decimal (the surprisal discipline).
sql_query(
    "ts6_user_entropy",
    section="TS",
    text="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS c FROM {events}
      GROUP BY user_id, event_type
    ),
    tot AS (SELECT user_id, sum(c) AS n FROM c GROUP BY user_id),
    terms AS (
      SELECT c.user_id,
             round(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * round(ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 9), 9) AS h
      FROM c JOIN tot t USING (user_id)
    )
    SELECT user_id,
           CAST(count(*) AS INTEGER) AS n_types,
           CAST(sum(CAST(h AS DECIMAL(20,9))) AS DOUBLE) AS entropy
    FROM terms GROUP BY user_id
""",
)


# ---------------------------------------------------------------------------
# A13: time-hierarchy rollup (year → month → day subtotals)
# ---------------------------------------------------------------------------

_TIME_ROLLUP_ORACLE = """
    SELECT CAST(year(ts) AS INTEGER) AS y,
           CAST(month(ts) AS INTEGER) AS m,
           CAST(day(ts) AS INTEGER) AS d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(grouping(year(ts)) * 4 + grouping(month(ts)) * 2
                + grouping(day(ts)) AS INTEGER) AS lvl
    FROM events
    GROUP BY ROLLUP (year(ts), month(ts), day(ts))
"""


@query("a13_time_rollup", section="A13", oracle=_TIME_ROLLUP_ORACLE)
def a13_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OLAP time hierarchy: one ROLLUP produces day totals, month
    subtotals, year subtotals, and the grand total in a single
    aggregation pass (partial-agg combines each level map-side) —
    the dashboard backfill shape, with exact decimal value sums and
    the grouping-bit level id distinguishing subtotal rows from NULL
    data."""
    e = load_table(spark, sf_dir, "events")
    y = F.year("ts").alias("y")
    m = F.month("ts").alias("m")
    d = F.dayofmonth("ts").alias("d")
    return (
        e.select(y, m, d, "value")
        .rollup("y", "m", "d")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            (
                F.grouping("y") * 4 + F.grouping("m") * 2 + F.grouping("d")
            ).cast("int").alias("lvl"),
        )
        .select(
            F.col("y").cast("int").alias("y"),
            F.col("m").cast("int").alias("m"),
            F.col("d").cast("int").alias("d"),
            "n",
            "total_value",
            "lvl",
        )
    )


# ---------------------------------------------------------------------------
# DQ2: Benford first-digit distribution (fraud/quality diagnostic)
# ---------------------------------------------------------------------------

# expected Benford frequencies log10(1 + 1/d), emitted as identical
# literals into BOTH plans (no cross-engine log channel at all)
_BENFORD = {d: round(__import__("math").log10(1 + 1 / d), 6) for d in range(1, 10)}

_BENFORD_ORACLE = f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS INTEGER) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
    exp AS (
      -- explicit casts: bare VALUES literals parse as DECIMAL in
      -- DuckDB, which fetchall() surfaces as Decimal objects and the
      -- pytest canon stringifies differently from Spark's doubles
      SELECT CAST(d AS INTEGER) AS d, CAST(expected AS DOUBLE) AS expected
      FROM (VALUES
        {", ".join(f"({d}, {_BENFORD[d]})" for d in range(1, 10))})
        AS e(d, expected)
    )
    SELECT e.d, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
           round(CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
             AS observed,
           e.expected,
           round(abs(round(CAST(coalesce(c.n, 0) AS DOUBLE)
                           / CAST(tot.t AS DOUBLE), 6) - e.expected), 6)
             AS abs_dev
    FROM exp e LEFT JOIN c ON c.d = e.d CROSS JOIN tot
"""


@query("dq2_benford_digits", section="DQ2", oracle=_BENFORD_ORACLE)
def dq2_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / unit-mix diagnostic: observed first-digit
    frequencies against the log10(1+1/d) expectation.  The expected
    frequencies are one set of PRECOMPUTED literals emitted into both
    plans, so no runtime log call exists on either engine; digit
    extraction goes through the DECIMAL(18,2) string form (identical
    canonical text both engines)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .cast("int")
        .alias("d")
    )
    c = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").cast("bigint").alias("t"))
    exp = spark.createDataFrame(
        [(d, _BENFORD[d]) for d in range(1, 10)], "d int, expected double"
    )
    return (
        exp.join(c, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.round(
                F.coalesce("n", F.lit(0)).cast("double") / F.col("t").cast("double"), 6
            ).alias("observed"),
            "expected",
            F.round(
                F.abs(
                    F.round(
                        F.coalesce("n", F.lit(0)).cast("double")
                        / F.col("t").cast("double"),
                        6,
                    )
                    - F.col("expected")
                ),
                6,
            ).alias("abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# A11: correlation matrix via exact decimal moments
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _corr_pairs_sql() -> str:
    pieces = []
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            pieces.append(
                f"""
      SELECT '{x}' AS col_x, '{y}' AS col_y,
             round((CAST(n AS DOUBLE) * CAST(sxy_{x}_{y} AS DOUBLE)
                    - CAST(sx_{x} AS DOUBLE) * CAST(sx_{y} AS DOUBLE))
                   / sqrt((CAST(n AS DOUBLE) * CAST(sq_{x} AS DOUBLE)
                           - CAST(sx_{x} AS DOUBLE) * CAST(sx_{x} AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(sq_{y} AS DOUBLE)
                             - CAST(sx_{y} AS DOUBLE) * CAST(sx_{y} AS DOUBLE))), 6)
               AS r
      FROM m"""
            )
    return " UNION ALL ".join(pieces)


def _corr_moments_sql() -> str:
    terms = ["CAST(count(*) AS BIGINT) AS n"]
    for x in _CORR_COLS:
        terms.append(f"sum(CAST({x} AS DECIMAL(18,4))) AS sx_{x}")
        terms.append(
            f"sum(CAST({x} AS DECIMAL(19,4)) * CAST({x} AS DECIMAL(19,4))) AS sq_{x}"
        )
    for i, x in enumerate(_CORR_COLS):
        for y in _CORR_COLS[i + 1 :]:
            terms.append(
                f"sum(CAST({x} AS DECIMAL(19,4)) * CAST({y} AS DECIMAL(19,4)))"
                f" AS sxy_{x}_{y}"
            )
    return f"SELECT {', '.join(terms)} FROM lineitem"


_CORR_ORACLE = f"""
    WITH m AS ({_corr_moments_sql()})
    {_corr_pairs_sql()}
"""


@query("a11_corr_matrix", section="A11", oracle=_CORR_ORACLE)
def a11_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between lineitem's numeric measures from
    EXACT decimal moments: Σx, Σx², Σxy accumulate as DECIMAL (the
    2-dp inputs make every product exact in DECIMAL(28,8)), so the
    association order of the one wide aggregation can never matter;
    the final r = (nΣxy−ΣxΣy)/√(…) is a fixed chain of IEEE ops.
    A single full-scan aggregate produces ALL moments at once
    (one pass for the whole matrix — the textbook map-side-combinable
    formulation; built-in `corr()` gives no cross-engine determinism
    because it accumulates doubles in partition order)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n")]
    # operand precision 18, not 19: Spark's (19,4)x(19,4) product needs
    # precision 39 > 38 and allowPrecisionLoss silently demotes it to
    # decimal(38,7) — per-product rounding (tools/audit_decimal.py).
    # (18,4)x(18,4) -> decimal(37,8) is exact.  The DuckDB oracle keeps
    # (19,4): DuckDB never demotes (its (19,4) product is exact int128;
    # its (18,4) path overflows int64 instead).  Both engines compute
    # the identical exact value.
    for x in _CORR_COLS:
        aggs.append(F.sum(F.col(x).cast("decimal(18,4)")).alias(f"sx_{x}"))
        aggs.append(
            F.sum(F.col(x).cast("decimal(18,4)") * F.col(x).cast("decimal(18,4)")).alias(
                f"sq_{x}"
            )
        )
    pairs = [
        (x, y) for i, x in enumerate(_CORR_COLS) for y in _CORR_COLS[i + 1 :]
    ]
    for x, y in pairs:
        aggs.append(
            F.sum(F.col(x).cast("decimal(18,4)") * F.col(y).cast("decimal(18,4)")).alias(
                f"sxy_{x}_{y}"
            )
        )
    m = li.agg(*aggs)
    rows = []
    for x, y in pairs:
        n = F.col("n").cast("double")
        sx, sy = F.col(f"sx_{x}").cast("double"), F.col(f"sx_{y}").cast("double")
        sqx, sqy = F.col(f"sq_{x}").cast("double"), F.col(f"sq_{y}").cast("double")
        sxy = F.col(f"sxy_{x}_{y}").cast("double")
        r = F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sqx - sx * sx) * (n * sqy - sy * sy)), 6
        )
        rows.append(
            m.select(F.lit(x).alias("col_x"), F.lit(y).alias("col_y"), r.alias("r"))
        )
    out = rows[0]
    for other in rows[1:]:
        out = out.unionByName(other)
    return out


# ---------------------------------------------------------------------------
# A12: grouped OLS trend (least-squares slope per group)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
             sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)))
               AS sxx,
             sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
    FROM m
"""


@query("a12_ols_trend", section="A12", oracle=_OLS_ORACLE)
def a12_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (price vs quantity per return
    flag) from the same exact-decimal moment machinery as the
    correlation matrix: one grouped aggregate yields n/Σx/Σy/Σx²/Σxy
    per group, then slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) and the
    intercept as fixed IEEE chains — grouped regression without ML
    libraries, map-side combinable, deterministic (the built-in
    `regr_slope` accumulates doubles in partition order)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x.cast("decimal(18,4)")).alias("sx"),
        F.sum(y.cast("decimal(18,4)")).alias("sy"),
        F.sum(x.cast("decimal(18,4)") * x.cast("decimal(18,4)")).alias("sxx"),
        F.sum(x.cast("decimal(18,4)") * y.cast("decimal(18,4)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# DQ1: declarative data-quality checks (dbt/GE-style constraint report)
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
    WITH checks AS (
      SELECT 'lineitem.l_quantity.positive' AS check_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_discount.range_0_1',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_shipdate.not_null',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_orderkey.ref_orders',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'orders.o_orderkey.unique',
             CAST(count(*) AS BIGINT),
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
    )
    SELECT check_name, n_rows, n_violations,
           (n_violations = 0) AS passed
    FROM checks
"""


@query("dq1_constraint_report", section="DQ1", oracle=_DQ_ORACLE)
def dq1_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (the dbt-test /
    Great-Expectations surface): positivity, range, not-null,
    referential-integrity, and uniqueness constraints evaluated as
    aggregated violation counts in ONE pass per table — each check is
    a conditional sum riding an existing scan, the referential check
    is the broadcast left join every FK audit compiles to, and
    uniqueness is count−count(distinct).  At 100 TB this is how
    constraints are actually enforced: as audit queries over the lake,
    not row-by-row triggers."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def check(name: str, df: DataFrame, violation_col) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(violation_col.cast("int")).cast("bigint").alias("n_violations"),
        )

    ref = li.join(
        F.broadcast(o.select(F.col("o_orderkey").alias("ok"))),
        li.l_orderkey == F.col("ok"),
        "left",
    )
    uniq = o.agg(
        F.lit("orders.o_orderkey.unique").alias("check_name"),
        F.count("*").cast("bigint").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("bigint").alias("n_violations"),
    )
    rep = (
        check("lineitem.l_quantity.positive", li, ~(F.col("l_quantity") > 0))
        .unionByName(
            check(
                "lineitem.l_discount.range_0_1",
                li,
                ~F.col("l_discount").between(0, 1),
            )
        )
        .unionByName(
            check("lineitem.l_shipdate.not_null", li, F.col("l_shipdate").isNull())
        )
        .unionByName(
            check("lineitem.l_orderkey.ref_orders", ref, F.col("ok").isNull())
        )
        .unionByName(uniq)
    )
    return rep.select(
        "check_name", "n_rows", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


# ---------------------------------------------------------------------------
# TS4: rolling z-score anomaly detection
# ---------------------------------------------------------------------------

ZS_FRAME = 20  # trailing events per type
ZS_MIN_N = 10
ZS_THRESHOLD = 2.0

# Rolling z-score outlier detection: each event scored against the
# mean/σ of the previous ZS_FRAME events of its type (self-excluded
# trailing frame), flagged when |z| ≥ ZS_THRESHOLD.  Frame sums go
# through exact DECIMAL, so the window's association order can't
# matter; mean/variance use one fixed double expression shape on both
# engines, and cancellation is clamped with greatest(·, 0).
sql_query(
    "ts4_zscore_anomaly",
    section="TS",
    text=f"""
    WITH base AS (
      SELECT event_id, event_type, value,
             sum(CAST(value AS DECIMAL(18,4))) OVER w AS s1,
             sum(CAST(value AS DECIMAL(14,4)) * CAST(value AS DECIMAL(14,4))) OVER w AS s2,
             count(value) OVER w AS n
      FROM {{events}}
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {ZS_FRAME} PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT event_id, event_type, value,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS sd,
             n
      FROM base WHERE n >= {ZS_MIN_N}
    )
    SELECT event_id, event_type, value,
           round((value - m) / sd, 6) AS z
    FROM scored
    WHERE sd > 0 AND abs((value - m) / sd) >= {ZS_THRESHOLD}
""",
)


# ---------------------------------------------------------------------------
# TS5: batch sessionization (gap-based session assignment)
# ---------------------------------------------------------------------------

_SESSIONIZE_ORACLE = f"""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > {SESSION_GAP_MIN} * 60 * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
             AS duration_s,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_seq
"""


@query("ts5_sessionize", section="TS", oracle=_SESSIONIZE_ORACLE)
def ts5_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a new session starts when a
    user's inter-event gap exceeds {gap} minutes (lag + running sum of
    start markers — the standard two-window formulation); emits
    per-session event counts, durations, and exact-decimal value
    totals.  The streaming counterpart is the native session window
    (T3, `streaming_queries.t3_session_window`); this is its batch
    twin over ungridded history, shuffle-keyed on user_id only."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1000000
    # ts is TIMESTAMP_NTZ in the parquet; the session is pinned to UTC,
    # so the cast to TIMESTAMP is epoch-stable
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    marked = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(prev.isNull() | ((us - prev) > gap_us), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = marked.select(
        "user_id", "ts", "value", F.sum("is_start").over(wrun).alias("session_seq")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.floor(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 1000000
        )
        .cast("bigint")
        .alias("duration_s"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


ts5_sessionize.__doc__ = ts5_sessionize.__doc__.format(gap=SESSION_GAP_MIN)


# ---------------------------------------------------------------------------
# G1: fixed-iteration PageRank (iterative graph algorithm)
# ---------------------------------------------------------------------------

PR_DAMP = 0.85
PR_ITER = 3
PR_TOP_K = 50


# rank unit: 1e-12 of total mass, held as BIGINT ("pico-rank").  Every
# arithmetic step below is integer half-away-from-zero on non-negative
# operands, so the two engines cannot diverge by even 1 ulp — the
# earlier 12-dp double rounding flaked at sf0.1 when Spark's BigDecimal
# HALF_UP and DuckDB's multiply-nearbyint landed on opposite sides of a
# boundary (CROSS_SF_r10.json, node 1013: …685 vs …684).
PR_UNIT = 10**12
_PR_DAMP_NUM = 85  # 0.85 as 85/100 — exact integer damping


def _pagerank_iter_sql() -> str:
    """Unrolled PageRank iterations as CTEs (r0 → c{i}/s{i}/r{i}),
    integer pico-rank arithmetic throughout."""
    parts = []
    for i in range(1, PR_ITER + 1):
        parts.append(
            f"""
    c{i} AS (
      SELECT e.dst, (2 * r.rq + d.outdeg) // (2 * d.outdeg) AS cq
      FROM und e JOIN r{i - 1} r ON r.node = e.src JOIN deg d ON d.node = e.src
    ),
    s{i} AS (
      SELECT dst AS node, CAST(sum(cq) AS BIGINT) AS sq
      FROM c{i} GROUP BY dst
    ),
    r{i} AS (
      SELECT n.node,
             nn.baseq + (2 * {_PR_DAMP_NUM} * coalesce(s.sq, 0) + 100) // 200 AS rq
      FROM nodes n CROSS JOIN nn LEFT JOIN s{i} s ON s.node = n.node
    )"""
        )
    return ",".join(parts)


_PAGERANK_ORACLE = f"""
    WITH edges AS (
      SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    und AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ),
    deg AS (
      SELECT src AS node, count(*) AS outdeg FROM und GROUP BY src
    ),
    nodes AS (SELECT DISTINCT src AS node FROM und),
    nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (2 * {PR_UNIT} + count(*)) // (2 * count(*)) AS initq,
             (2 * {PR_UNIT} * 15 // 100 + count(*)) // (2 * count(*)) AS baseq
      FROM nodes
    ),
    r0 AS (SELECT node, nn.initq AS rq FROM nodes, nn),
    {_pagerank_iter_sql()}
    SELECT node, entity, entity_key, pr, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT node,
             CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
             CAST(node // 2 AS BIGINT) AS entity_key,
             CAST(rq AS DOUBLE) / {PR_UNIT} AS pr,
             row_number() OVER (ORDER BY rq DESC, node) AS rnk
      FROM r{PR_ITER})
    WHERE rnk <= {PR_TOP_K}
"""


@query("g1_pagerank_topk", section="G1", oracle=_PAGERANK_ORACLE)
def g1_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected, bipartite)
    customer–supplier trade graph derived from orders⋈lineitem — the
    iterative-graph-algorithm class (link-centrality is a standard
    corpus-curation quality signal, e.g. Common Crawl's harmonic
    centrality ranking; here it runs on the testdata's natural graph).

    Spark shapes: the edge list shuffles once on (src, dst) for
    DISTINCT; each of the {it} unrolled iterations is one equi-join
    (ranks are node-keyed, degrees broadcastable at dim size) + a
    node-keyed partial-agg sum.  At 100 TB the rank/degree tables stay
    node-sized (≪ edge-sized) and every shuffle key is a node id.

    Determinism: ranks live as BIGINT pico-rank (1e-12 of total mass);
    the per-edge contribution, the damping update, and the init/base
    terms are all integer half-away divisions on non-negative operands
    ((2a+b) div (2b)), and the per-node sum is an exact integer sum —
    no float operation exists anywhere in the iteration, so the two
    engines agree bit-for-bit at any SF (the earlier 12-dp double
    rounding flaked at sf0.1 — see PR_UNIT note above).
    """
    ranks = pagerank_ranks(spark, sf_dir)
    w = Window.orderBy(F.col("rq").desc(), F.col("node"))
    return (
        ranks.orderBy(F.col("rq").desc(), F.col("node"))
        .limit(PR_TOP_K)
        .select(
            "node",
            F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier").alias("entity"),
            F.floor(F.col("node") / 2).cast("bigint").alias("entity_key"),
            (F.col("rq").cast("double") / PR_UNIT).alias("pr"),
            F.row_number().over(w).cast("int").alias("rnk"),
        )
    )


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full (node, rq, r) rank table after PR_ITER damped iterations —
    rq is the exact BIGINT pico-rank, r its double rendering; exposed
    separately so tests can assert rank-mass conservation."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.lit(2) * F.col("o_custkey")).alias("src"),
            (F.lit(2) * F.col("l_suppkey") + 1).alias("dst"),
        )
        .distinct()
    )
    # eagerly localCheckpointed: the symmetrized edge list feeds
    # deg/nodes/nn and all PR_ITER contribution joins — unmaterialized,
    # the orders⋈lineitem DISTINCT re-ran once per consumer (6+ scans
    # of the fact table); checkpoint, NOT cache(), so a later identical
    # run can never silently reuse this call's edges (the g9 round-12
    # honesty finding)
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("outdeg")).withColumnRenamed("src", "node")
    nodes = und.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(
        F.count("*").alias("n"),
        F.expr(f"(2 * {PR_UNIT} + count(*)) div (2 * count(*))").alias("initq"),
        F.expr(
            f"(2 * {PR_UNIT} * 15 div 100 + count(*)) div (2 * count(*))"
        ).alias("baseq"),
    )
    # deg and the (node, initq, baseq) base table are node-sized and
    # consumed by EVERY iteration — unmaterialized, each iteration's
    # broadcasts re-ran the edge-sized groupBy/distinct over the
    # checkpoint (two extra edge-sized shuffles per round, measured);
    # one checkpoint each makes every later use a node-sized RDD read
    deg = deg.localCheckpoint(eager=True)
    base = (
        nodes.crossJoin(F.broadcast(nn))
        .select("node", "initq", "baseq")
        .localCheckpoint(eager=True)
    )
    ranks = base.select("node", F.col("initq").alias("rq"))
    # ranks and deg are node-sized (≪ edge-sized) — broadcast them into
    # the edge join so each iteration shuffles only the (dst, cq) partial
    # aggregation, never the edge list; at node counts beyond broadcast
    # range this becomes a shuffle join on the node id
    for _ in range(PR_ITER):
        contrib = (
            und.join(F.broadcast(ranks), und.src == ranks.node)
            .join(
                F.broadcast(deg.withColumnRenamed("node", "dnode")),
                F.col("src") == F.col("dnode"),
            )
            .select(
                F.col("dst"),
                F.expr("(2 * rq + outdeg) div (2 * outdeg)").alias("cq"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("cq").alias("sq"))
        # checkpoint each iterate: it is node-sized, and the next
        # iteration broadcasts it — unmaterialized, iteration i would
        # re-execute the full lineage of iterations 1..i-1 on every
        # materialization; checkpoint, NOT cache(), for the same
        # no-cross-run-reuse honesty as the edge table above
        ranks = (
            base.join(sums, base.node == sums.dst, "left")
            .select(
                base.node.alias("node"),
                F.expr(
                    f"baseq + (2 * {_PR_DAMP_NUM} * coalesce(sq, 0) + 100)"
                    " div 200"
                ).alias("rq"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rq", (F.col("rq").cast("double") / PR_UNIT).alias("r"))


g1_pagerank_topk.__doc__ = g1_pagerank_topk.__doc__.format(it=PR_ITER)


# ---------------------------------------------------------------------------
# S3: XML source round-trip (Spark 4 built-in XML, SPARK-44265)
# ---------------------------------------------------------------------------


@query(
    "s12_text_roundtrip",
    section="S3",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def s12_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink → `spark.read.text` scan: documents are
    written as `<doc_id>\\t<text>` lines and re-parsed from the raw
    value column — the lowest-common-denominator interchange format
    (and the shape of most raw crawl/log drops before schema-ing).
    Completes the built-in source matrix next to
    parquet/JSON/CSV/ORC/XML/binary."""
    d = load_table(spark, sf_dir, "documents")
    out = session_memo(
        spark, ("s12_text_roundtrip", os.path.abspath(sf_dir)), lambda: session_tmpdir("css_s12_")
    )
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parsed = lines.select(
        F.split_part("value", F.lit("\t"), F.lit(1)).cast("bigint").alias("doc_id"),
        F.split_part("value", F.lit("\t"), F.lit(2)).alias("text"),
    )
    return parsed.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )


@query(
    "s11_xml_roundtrip",
    section="S3",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def s11_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → XML scan (declared schema, no inference) round-trips
    the supplier dim — exercises double round-tripping via
    shortest-repr decimal strings (a double printed by toString and
    re-parsed is bit-identical).  XML became a first-class built-in
    Spark source in 4.0 (SPARK-44265), with the same
    permissive-mode/schema-on-read semantics as JSON."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    out = session_memo(
        spark, ("s11_xml_roundtrip", os.path.abspath(sf_dir)), lambda: session_tmpdir("css_s11_")
    )
    s.write.mode("overwrite").format("xml").option("rowTag", "supplier").save(out)
    return (
        spark.read.schema(
            "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
        )
        .format("xml")
        .option("rowTag", "supplier")
        .load(out)
    )
