"""Catalog entries: n-gram Jaccard near-dup, embedding-cosine
near-dup, LSH-bucketed ANN (SURVEY.md §2B L2/L3 scale paths), and a
BPE-style regex tokenizer (L4).

Each Spark plan and its DuckDB oracle re-derive the same deterministic
structure (MD5-parity hyperplanes, word n-grams), so the driver's
hash-compare is exact — no RNG anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    NGRAM_MAX_DF_PCT,
    NGRAM_N,
    _ORACLE_GRAMS_CTE,
    connected_components,
    ngram_jaccard_pairs,
    shared_pairs_and_labels,
)
from chronicle_sniffer_spark.operators.similarity import (
    ANN_K,
    ANN_QUERY_VEC,
    ann_topk,
    cosine_pairs_adaptive,
    oracle_bucket_keys_sql,
)
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


def _oracle_grams_cte(rel: str = "documents") -> str:
    """The shingle→candidate→intersection CTE chain over ``rel``."""
    return _ORACLE_GRAMS_CTE.replace("FROM documents)", f"FROM {rel})")


@query(
    "l2_ngram_jaccard",
    section="L2",
    oracle=f"""
    WITH {_ORACLE_GRAMS_CTE}
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6)
          >= {JACCARD_THRESHOLD}
    """,
)
def l2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (inverted-index candidates,
    df-capped; exact score on uncapped sets — operators/dedup.py).
    Served from the session-scoped materialization shared with the
    cluster and leakage-split entries (:func:`shared_pairs_and_labels`)."""
    pairs, _ = shared_pairs_and_labels(spark, sf_dir)
    return pairs


@query(
    "l2_ngram_df_cap_audit",
    section="L2",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+{NGRAM_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           unnest(generate_series(1, greatest(len(words) - {NGRAM_N - 1}, 1))) AS t(i)
    ),
    df AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
    cap AS (SELECT (count(*) * {NGRAM_MAX_DF_PCT} + 99) // 100 AS c FROM documents)
    SELECT CAST(cap.c AS BIGINT) AS max_df_cap,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.df > cap.c THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM df, cap GROUP BY cap.c
    """,
)
def l2_ngram_df_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit for the n-gram prefix index: the effective
    corpus-relative df cap, the distinct-gram count, and how many
    grams the cap excludes from candidate generation.  A production
    dedup run records this row next to its pair output so recall loss
    from the skew guard is visible, not silent."""
    from chronicle_sniffer_spark.operators.dedup import ngram_df_cap_report

    return ngram_df_cap_report(
        load_table(spark, sf_dir, "documents"), n=NGRAM_N, max_df_pct=NGRAM_MAX_DF_PCT
    )


@query(
    "l2_dedup_clusters",
    section="L2",
    oracle=f"""
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
    )
    SELECT s AS doc_id, min(t) AS cluster_id, s = min(t) AS is_canonical
    FROM reach GROUP BY s
    """,
)
def l2_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → canonical-doc choice
    (min doc_id per cluster) — the step that turns pairwise similarity
    into an actual dedup decision.  Spark: min-label propagation
    (operators/dedup.py); oracle: recursive-CTE reachability closure.
    Singleton docs (no near-dup) are out of scope on both sides.
    Served from the session-scoped materialization
    (:func:`shared_pairs_and_labels`)."""
    _, labels = shared_pairs_and_labels(spark, sf_dir)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


@query(
    "l2_simhash_pairs",
    section="L2",
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
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
)
def l2_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (operators/simhash.py): 63-bit
    Charikar fingerprints from md5 token votes, banded candidate
    equi-join (4 bands x 16 bits; pigeonhole-complete for hamming <=
    3), exact hamming verify.  The oracle is the all-pairs form —
    band completeness makes them identical, which is exactly the
    property worth hash-checking."""
    from chronicle_sniffer_spark.operators.simhash import simhash_pairs

    return simhash_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "l2_embedding_near_dup",
    section="L2",
    oracle="""
    WITH sims AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    -- integer-exact moments of the 1e-6-grid sims (round-11 advisor
    -- fix): identical integers to Spark's chunked int64/decimal
    -- accumulation regardless of association order, then ONE exact
    -- integer->double conversion per term and the same IEEE algebra
    mom AS (
      SELECT count(*) AS n,
             sum(CAST(round(sim * 1e6) AS BIGINT)) AS s,
             sum(CAST(round(sim * 1e6) AS BIGINT) * CAST(round(sim * 1e6) AS BIGINT)) AS s2
      FROM sims
    ),
    thr AS (
      SELECT round(
               (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6
               + 3.5 * sqrt(greatest(CAST(n * s2 - s * s AS DOUBLE), 0.0)
                            / CAST(n * n AS DOUBLE)) / 1e6,
               6) AS t
      FROM mom
    )
    SELECT s.vec_a, s.vec_b, s.sim FROM sims s, thr WHERE s.sim >= thr.t
    """,
)
def l2_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force baseline;
    LSH-bucketed candidates are the 100 TB path — operators/similarity.py).

    The cutoff is DERIVED from the corpus — mean + 3.5·stddev of the
    pair-sim distribution — instead of a literal that must track the
    data's scale factor (rounds 1-3 carried 0.45 against a noise
    ceiling that RISES with SF: max sim 0.48 → 0.51 → 0.60 across
    sf0.001/0.01/0.1, so the literal's margin was 0.063 and shrinking).
    The shipped corpora have no seeded ≥0.97 dup cluster (measured:
    unimodal noise, mean≈0, σ≈0.125 at every SF), so a gap-seeking
    threshold has nothing to find; the c-sigma form instead pins the
    operator to 'statistically exceptional pairs' and stays
    non-vacuous and SF-stable (tests/test_dedup_filters.py asserts
    both at all three SFs).  DuckDB re-derives the identical threshold
    from the same 6-dp sims, so the driver hash-compare stays exact."""
    return cosine_pairs_adaptive(load_table(spark, sf_dir, "embeddings"))


@query(
    "l3_ann_lsh_topk",
    section="L3",
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding, {oracle_bucket_keys_sql()} AS keys FROM embeddings
    ),
    qk AS (
      SELECT unnest(keys) AS qkey, embedding::DOUBLE[] AS qv
      FROM bk WHERE vec_id = {ANN_QUERY_VEC}
    ),
    cand AS (
      SELECT DISTINCT b.vec_id
      FROM bk b JOIN qk ON list_contains(b.keys, qk.qkey)
      WHERE b.vec_id <> {ANN_QUERY_VEC}
    ),
    scored AS (
      SELECT c.vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[],
                   (SELECT qv FROM qk LIMIT 1)), 6) AS sim
      FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
    )
    SELECT vec_id, sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT vec_id, sim, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {ANN_K}
    """,
)
def l3_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN: 8 tables × 4 bits, candidates
    from shared buckets, exact cosine on candidates only."""
    return ann_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_VEC, ANN_K)


def _ivf_oracle() -> str:
    from chronicle_sniffer_spark.operators.ivf import oracle_ivf_sql

    return oracle_ivf_sql(ANN_QUERY_VEC, ANN_K)


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The cid-partitioned index layout, written once per session (the
    100 TB shape: the index is written once and served many times)."""
    from chronicle_sniffer_spark.operators.ivf import ivf_index_write

    def build() -> str:
        out = session_tmpdir("css_ivf_index_")
        ivf_index_write(load_table(spark, sf_dir, "embeddings"), out)
        return out

    return session_memo(spark, ("l3_ivf_index", os.path.abspath(sf_dir)), build)


@query("l3_ann_ivf_topk", section="L3", oracle=_ivf_oracle())
def l3_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means cells, probe the 4 nearest of 16,
    exact cosine inside probed cells (operators/ivf.py).  HARD oracle:
    the Lloyd loop's bounds are compile-time constants, so the whole
    train→assign→probe→score pipeline unrolls into DuckDB CTEs
    (operators/ivf.py::oracle_ivf_sql); the structural invariants
    (full-probe ≡ brute force, determinism, recall floor, partition
    pruning) stay pytest checks in tests/test_ivf.py."""
    from chronicle_sniffer_spark.operators.ivf import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_VEC, ANN_K)


@query("l3_ann_ivf_index_topk", section="L3", oracle=_ivf_oracle())
def l3_ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same IVF top-k through the MATERIALIZED index — the 100 TB
    serving shape: the cell assignment is written ONCE per session as a
    cid-PARTITIONED parquet layout plus a KB-sized centroid table, and
    each query's probe becomes an IN filter the layout turns into
    partition pruning at the scan (only the probed cells' files are
    listed or read; plan+metrics assert in
    tests/test_ivf.py::test_probe_filter_prunes_partitions).  Same
    unrolled-Lloyd DuckDB oracle as `l3_ann_ivf_topk` — train-then-
    serve must return exactly what train-inline returns."""
    from chronicle_sniffer_spark.operators.ivf import ivf_topk_from_index

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == ANN_QUERY_VEC).select("embedding").collect()
    qv = [float(x) for x in qrow[0][0]]
    return ivf_topk_from_index(
        spark, _ivf_index_dir(spark, sf_dir), qv, ANN_K, exclude_vec_id=ANN_QUERY_VEC
    )


# The upsert entry's base/delta split: base = 80% of the corpus (index
# built + centroids trained on it), delta = the remaining 20% upserted
# afterwards.  Mirrored verbatim in the DuckDB oracle's train_where.
_IVF_UPSERT_BASE = "vec_id % 5 <> 0"


def _ivf_upserted_index_dir(spark: SparkSession, sf_dir: str) -> str:
    from chronicle_sniffer_spark.operators.ivf import ivf_index_upsert, ivf_index_write

    def build() -> str:
        out = session_tmpdir("css_ivf_upsert_")
        emb = load_table(spark, sf_dir, "embeddings")
        ivf_index_write(emb.filter(F.expr(_IVF_UPSERT_BASE)), out)
        ivf_index_upsert(spark, out, emb.filter(~F.expr(_IVF_UPSERT_BASE)))
        return out

    return session_memo(spark, ("l3_ivf_upserted", os.path.abspath(sf_dir)), build)


def _ivf_upsert_oracle() -> str:
    from chronicle_sniffer_spark.operators.ivf import oracle_ivf_sql

    return oracle_ivf_sql(ANN_QUERY_VEC, ANN_K, train_where=_IVF_UPSERT_BASE)


@query("l3_ann_ivf_index_upsert", section="L3", oracle=_ivf_upsert_oracle())
def l3_ann_ivf_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving after an INCREMENTAL index update — the missing
    piece next to rebuild-only indexing: the index is built on 80% of
    the corpus (centroids trained there), then the remaining 20% is
    delta-upserted via `operators/ivf.py::ivf_index_upsert` — assigned
    to the EXISTING centroids with a broadcast join and merged by
    dynamic-partition overwrite that rewrites ONLY the touched cells
    (tests/test_ivf.py::test_upsert_touches_only_assigned_partitions
    proves untouched cell files are byte-identical afterwards;
    test_upsert_index_equals_full_assignment proves the merged cells
    equal a from-scratch assignment of the full corpus to the base
    centroids).  At 100 TB this is the difference between a daily
    full-index rebuild and a delta-sized write.  HARD oracle: the same
    unrolled-Lloyd SQL, trained on the base predicate, assigning the
    full corpus — train-on-base-then-upsert must return exactly what a
    monolithic pipeline would."""
    from chronicle_sniffer_spark.operators.ivf import ivf_topk_from_index

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == ANN_QUERY_VEC).select("embedding").collect()
    qv = [float(x) for x in qrow[0][0]]
    return ivf_topk_from_index(
        spark,
        _ivf_upserted_index_dir(spark, sf_dir),
        qv,
        ANN_K,
        exclude_vec_id=ANN_QUERY_VEC,
    )


# GPT-2-style pre-tokenizer, RE2/Java-compatible subset (no lookahead):
# letter runs, digit runs, punctuation runs — each optionally preceded
# by one space — plus residual whitespace runs.
_BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"


@query(
    "l4_bpe_token_count",
    section="L4",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS INTEGER) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)
def l4_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-style
    pre-tokenizer regex (the unit LLM data pipelines budget by)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    )


@query(
    "a10_salted_skew_agg",
    section="A1/skew",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def a10_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 5-value hot grouping key —
    identical result to the plain GROUP BY, but the heavy partial runs
    on keys×16 salts (operators/skew.py)."""
    from chronicle_sniffer_spark.operators.skew import salted_aggregate

    o = load_table(spark, sf_dir, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    out = salted_aggregate(
        o,
        keys=["o_orderpriority"],
        salt_on="o_orderkey",
        n_salts=16,
        sums={"price_dec": "total_price_dec"},
        count_alias="n",
    )
    return out.select(
        "o_orderpriority", F.col("total_price_dec").cast("double").alias("total_price"), "n"
    )


@query(
    "a10b_salted_skew_join",
    section="A1/skew",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 100 END AS hot_key,
             l_extendedprice
      FROM lineitem
    ),
    dim AS (
      SELECT p_partkey % 100 AS hot_key, count(*) AS dim_n
      FROM part GROUP BY p_partkey % 100
    )
    SELECT f.hot_key,
           count(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           max(d.dim_n) AS dim_n
    FROM fact f JOIN dim d ON f.hot_key = d.hot_key
    GROUP BY f.hot_key
    """,
)
def a10b_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-JOIN mitigation on a manufactured hot key (~70% of
    lineitem rows map to key 0 — the classic 100 TB failure where one
    reducer gets most of the fact table): the dim side replicates once
    per salt, the fact side salts deterministically on l_orderkey, so
    the hot key's rows spread over 8 tasks (operators/skew.py
    salted_join).  The dim carries a shuffle_hash hint because a
    broadcast join has no skew problem to solve — this entry
    demonstrates the non-broadcastable-dim path; the engagement assert
    (salt in the physical join keys, no BroadcastHashJoin, hot rows on
    every salt) is tests/test_skew.py::test_salted_join_skew_path_engages.
    Identical result to the plain join, per the oracle."""
    from chronicle_sniffer_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .cast("bigint")
        .alias("hot_key"),
        "l_orderkey",
        "l_extendedprice",
    )
    dim = (
        load_table(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 100).alias("hot_key"))
        .agg(F.count("*").alias("dim_n"))
        .hint("shuffle_hash")
    )
    joined = salted_join(fact, dim, key="hot_key", salt_on="l_orderkey", n_salts=8)
    return joined.groupBy("hot_key").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.max("dim_n").alias("dim_n"),
    )


@query(
    "l5_frame_sample",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(v / 200 AS INTEGER) AS frame_idx,
           CAST(v AS INTEGER) AS frame_ts_ms
    FROM (SELECT doc_id, 1000 + (doc_id % 7) * 500 AS duration_ms
          FROM documents WHERE doc_id % 3 = 2),
         unnest(generate_series(0, duration_ms - 1, 200)) AS t(v)
    """,
)
def l5_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling offsets over the synthesized media corpus
    (operators/multimodal.py; byte decode is the stubbed step)."""
    from chronicle_sniffer_spark.operators.multimodal import sample_frames, synthesize_media

    return sample_frames(synthesize_media(load_table(spark, sf_dir, "documents")), every_ms=200)


@query(
    "l5_feature_extract",
    section="L5",
    oracle="""
    WITH hx AS (
      SELECT doc_id AS media_id, sha256(text) AS h FROM documents
    ),
    vals AS (
      SELECT media_id, g.i,
             CAST(CAST(CAST(('0x' || substr(h, ((g.i % 8) * 8) + 1, 8)) AS UBIGINT)
                       AS DOUBLE) / 4294967296.0 AS REAL) AS v
      FROM hx, (SELECT unnest(generate_series(0, 15)) AS i) g
    )
    SELECT media_id, ROUND(SUM(CAST(v AS DOUBLE)), 6) AS feature_sum
    FROM vals GROUP BY media_id
    """,
)
def l5_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (deterministic sha256-derived stub encoder).  Oracle-checked (was
    rows-only): the 16-dim feature is big-endian uint32 windows of the
    payload's sha256 digest scaled to [0,1) float32, which DuckDB
    recomputes from hex — so the checked value covers the Arrow batch
    transport, the byte layout, and the f8→f4 rounding end-to-end."""
    from chronicle_sniffer_spark.operators.multimodal import extract_features, synthesize_media

    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media, dim=16)
    return feats.select(
        "media_id",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, v: a + v), 6).alias("feature_sum"),
    )


@query(
    "l6_curation_pipeline",
    section="L1/L2/L4",
    oracle=f"""
    WITH RECURSIVE kept_docs AS (
      SELECT d.* FROM documents d
      JOIN (SELECT min(doc_id) AS doc_id
            FROM documents
            WHERE lang = 'en' AND n_chars >= 100
            GROUP BY sha256(text)) k USING (doc_id)
      WHERE d.lang = 'en' AND d.n_chars >= 100
    ),
    {_oracle_grams_cte("kept_docs")},
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
    noncanon AS (SELECT s AS doc_id FROM reach GROUP BY s HAVING s <> min(t))
    SELECT source, count(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM kept_docs
    WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)
    GROUP BY source
    """,
)
def l6_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composite: the curation chain a training-data pipeline
    actually runs — quality gate (lang + length) → exact dedup (keep
    min doc_id per sha256) → near-dup dedup (Jaccard pairs → connected
    components → canonical survivor) → per-source doc/token accounting.
    Every stage is a previously-verified operator; this entry verifies
    they COMPOSE (the shared grams CTE is re-rooted onto the filtered
    `kept_docs` CTE so near-dup runs on survivors, not the raw table)."""
    from chronicle_sniffer_spark.operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 100)
    )
    h = d.withColumn("h", F.sha2("text", 256))
    keep_exact = h.groupBy("h").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    kept1 = h.join(keep_exact, "doc_id", "left_semi").drop("h")

    pairs = ngram_jaccard_pairs(
        kept1.select("doc_id", "text"), n=NGRAM_N, threshold=JACCARD_THRESHOLD,
        max_df_pct=NGRAM_MAX_DF_PCT,
    )
    labels = connected_components(pairs)
    noncanon = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept2 = kept1.join(noncanon, "doc_id", "left_anti")
    return kept2.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
    )


@query(
    "l5_image_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(16 + (doc_id % 8) * 4 AS INTEGER) AS width,
           CAST(16 + (doc_id % 5) * 4 AS INTEGER) AS height,
           CAST((16 + (doc_id % 8) * 4) * (16 + (doc_id % 5) * 4) AS BIGINT) AS n_pixels,
           CAST(doc_id % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def l5_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end-to-end through bytes: the
    corpus is encoded to actual 24-bit BMPs (pure-numpy codec), decoded
    back pixel-by-pixel, and per-image channel means compared against
    the closed-form values the solid-color construction implies.  Any
    byte-level bug in encoder or decoder (row padding, BGR order,
    bottom-up rows) breaks the hash match."""
    from chronicle_sniffer_spark.operators.multimodal import (
        image_stats,
        synthesize_media_encoded,
    )

    return image_stats(synthesize_media_encoded(load_table(spark, sf_dir, "documents")))


@query(
    "l5_audio_stats",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(800 + (doc_id % 5) * 400 AS BIGINT) AS n_samples,
           CAST((800 + (doc_id % 5) * 400) / 8 AS INTEGER) AS duration_ms,
           CAST(1000 + (doc_id % 20) * 100 AS DOUBLE) AS rms,
           CAST(0.0 AS DOUBLE) AS mean
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def l5_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked through bytes: PCM16 WAV
    square waves (alternating ±A) encode and decode with the
    pure-numpy codec; RMS is exactly A and mean exactly 0, so DuckDB
    recomputes both in closed form from doc_id."""
    from chronicle_sniffer_spark.operators.multimodal import (
        audio_stats,
        synthesize_media_encoded,
    )

    return audio_stats(synthesize_media_encoded(load_table(spark, sf_dir, "documents")))


@query(
    "l5_png_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(12 + (doc_id % 9) * 4 AS INTEGER) AS width,
           CAST(12 + (doc_id % 7) * 4 AS INTEGER) AS height,
           CAST((12 + (doc_id % 9) * 4) * (12 + (doc_id % 7) * 4) AS BIGINT) AS n_pixels,
           CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_r,
           CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_g,
           CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_b
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def l5_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode, oracle-checked end-to-end through
    bytes: solid-color 8-bit RGB PNGs (stdlib-zlib deflate + numpy
    unfiltering, operators/codecs.py) with the scanline filter type
    cycling (doc_id + row) % 5, decoded back pixel-by-pixel; channel
    means must equal the closed-form colors the construction implies.
    Any bug in deflate framing, CRC handling, or any of the five
    filter reconstructions (incl. sequential Average/Paeth) breaks the
    hash match.  Upgrades L5 decode from 'uncompressed formats only':
    the reference decodes media at the edge of the DAG
    (processor_app.py:150-155); PNG is the most common image container
    a curation pipeline meets."""
    from chronicle_sniffer_spark.operators.multimodal import (
        png_stats,
        synthesize_png_corpus,
    )

    return png_stats(synthesize_png_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_jpeg_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 * (2 + doc_id % 5) AS INTEGER) AS width,
           CAST(8 * (2 + doc_id % 3) AS INTEGER) AS height,
           CAST(8 * (2 + doc_id % 5) * 8 * (2 + doc_id % 3) AS BIGINT) AS n_pixels,
           CAST(2 * ((doc_id * 7) % 128) AS DOUBLE) AS mean_gray
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def l5_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, oracle-checked through entropy-coded
    bytes: solid grayscale JPEGs (operators/jpeg.py — 8x8 DCT, Annex-K
    quantization + Huffman tables, DC-difference/AC run-length coding,
    byte stuffing) built with EVEN level-shift offsets, so quantized
    DC reconstructs the gray value bit-exactly and DuckDB recomputes
    the decoded means in closed form.  Any bug in the bit reader,
    Huffman tables, zigzag order, dequantization, or IDCT breaks the
    hash match."""
    from chronicle_sniffer_spark.operators.multimodal import (
        jpeg_stats,
        synthesize_jpeg_corpus,
    )

    return jpeg_stats(synthesize_jpeg_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_jpeg_color_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 * (2 + doc_id % 4) AS INTEGER) AS width,
           CAST(8 * (2 + doc_id % 3) AS INTEGER) AS height,
           CAST(2 * ((doc_id * 11) % 128) AS DOUBLE) AS mean_y,
           CAST(128 + 17 * ((doc_id % 15) - 7) AS DOUBLE) AS mean_cb,
           CAST(128 + 17 * (((doc_id * 3) % 15) - 7) AS DOUBLE) AS mean_cr
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def l5_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:4:4 color-JPEG decode, oracle-checked through
    interleaved-MCU entropy bytes: flat YCbCr planes on the exactness
    lattices (luma even offsets for Q00=16; chroma 128+17k for
    Q00=17), so each plane reconstructs bit-exactly and DuckDB
    recomputes the per-plane means in closed form.  Exercises the
    chrominance quantization + Huffman tables and the per-component
    DC-predictor interleaving the grayscale entry cannot reach.  The
    decoder returns YCbCr planes exactly; RGB display conversion is a
    separate (inherently rounding) helper."""
    from chronicle_sniffer_spark.operators.multimodal import (
        jpeg_color_stats,
        synthesize_jpeg_color_corpus,
    )

    return jpeg_color_stats(synthesize_jpeg_color_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_jpeg420_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(16 * (1 + doc_id % 3) AS INTEGER) AS width,
           CAST(16 * (1 + doc_id % 2) AS INTEGER) AS height,
           CAST(2 * ((doc_id * 13) % 128) AS DOUBLE) AS mean_y,
           CAST(128 + 17 * ((doc_id % 13) - 6) AS DOUBLE) AS mean_cb,
           CAST(128 + 17 * (((doc_id * 5) % 13) - 6) AS DOUBLE) AS mean_cr
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def l5_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 chroma-subsampled JPEG decode — the wild's most
    common JPEG layout — oracle-checked through bytes: 16×16 MCUs of
    four Y blocks + one downsampled Cb/Cr each, flat planes on the
    exactness lattices so subsample + entropy-code + decode +
    replicate-upsample reconstructs every plane bit-exactly."""
    from chronicle_sniffer_spark.operators.multimodal import (
        jpeg420_stats,
        synthesize_jpeg420_corpus,
    )

    return jpeg420_stats(synthesize_jpeg420_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_mp4_probe",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           'isom' AS major_brand,
           CAST(1000 AS INTEGER) AS timescale,
           CAST(1000 + (doc_id % 7) * 500 AS INTEGER) AS duration_ms,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def l5_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF container probe, oracle-checked through bytes:
    the video corpus now carries spec-correct ftyp/moov/mvhd/trak box
    structures (operators/codecs.py), and the probe walks the box
    grammar to recover brand, timescale, duration and track count —
    the container-level half of video ingestion a curation pipeline
    filters and routes on.  Per-SAMPLE decode is `l5_video_decode`."""
    from chronicle_sniffer_spark.operators.multimodal import (
        mp4_probe_stats,
        synthesize_media_encoded,
    )

    return mp4_probe_stats(synthesize_media_encoded(load_table(spark, sf_dir, "documents")))


@query(
    "l5_gif_anim_decode",
    section="L5",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id AS media_id,
           CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
           CAST(10 + (doc_id % 4) * 4 AS INTEGER) AS width,
           CAST(10 + (doc_id % 3) * 4 AS INTEGER) AS height,
           sum((doc_id * 17 + f * 31) % 256) / count(*) AS mean_gray,
           CAST(sum((f + 1) * ((doc_id * 17 + f * 31) % 256)) AS DOUBLE) AS wsum_gray
    FROM f GROUP BY doc_id
    """,
)
def l5_gif_anim_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode, oracle-checked through bytes: every frame
    is its own LZW stream behind a graphics-control extension, value
    distinct per frame, and the frame-index-weighted sum only matches
    DuckDB's closed form if every frame decoded in order — the
    web-scrape reality where 'image' columns contain multi-frame
    payloads."""
    from chronicle_sniffer_spark.operators.multimodal import (
        gif_anim_stats,
        synthesize_gif_anim_corpus,
    )

    return gif_anim_stats(synthesize_gif_anim_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_ulaw_decode",
    section="L5",
    oracle="""
    WITH cw AS (
      SELECT doc_id,
             xor(128 + (doc_id * 13) % 127, 255) AS cc
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id AS media_id,
           CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_samples,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST(0 AS DOUBLE) AS mean,
           CAST(((cc & 15) * 8 + 132) * (1 << ((cc >> 4) & 7)) - 132 AS DOUBLE) AS mean_abs,
           CAST(((cc & 15) * 8 + 132) * (1 << ((cc >> 4) & 7)) - 132 AS DOUBLE) AS rms
    FROM cw
    """,
)
def l5_ulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-AUDIO decode (G.711 mu-law companding, the
    telephony standard), oracle-checked through bytes: ±A square waves
    on the mu-law lattice survive compand→expand exactly, and the
    expander is pure integer arithmetic —
    ``((mant*8 + 132) << seg) - 132`` — which the DuckDB oracle
    recomputes from the codeword itself.  mean = 0 (even alternating
    count), mean_abs = rms = A exactly."""
    from chronicle_sniffer_spark.operators.multimodal import (
        synthesize_ulaw_corpus,
        ulaw_stats,
    )

    return ulaw_stats(synthesize_ulaw_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_video_color_decode",
    section="L5",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT))) AS f
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id AS media_id,
           CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
           CAST(16 * (1 + doc_id % 2) AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height,
           sum(2 * ((doc_id * 11 + f * 23) % 128)) / count(*) AS mean_y,
           CAST(128 + 17 * ((doc_id % 13) - 6) AS DOUBLE) AS mean_cb,
           CAST(128 + 17 * (((doc_id * 7) % 13) - 6) AS DOUBLE) AS mean_cr
    FROM f GROUP BY doc_id
    """,
)
def l5_video_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR per-sample video decode: every MP4 sample is a 4:2:0
    chroma-subsampled JPEG frame (the wild's dominant layout), luma
    distinct per frame on the even lattice, chroma per video on the
    128+17k lattice — sample-table walk + subsampled decode +
    replicate-upsample reconstructs every plane bit-exactly, so the
    per-plane means are closed-form for DuckDB."""
    from chronicle_sniffer_spark.operators.multimodal import (
        synthesize_mjpeg420_video_corpus,
        video_color_decode_stats,
    )

    return video_color_decode_stats(
        synthesize_mjpeg420_video_corpus(load_table(spark, sf_dir, "documents"))
    )


@query(
    "l5_gif_decode",
    section="L5",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(10 + (doc_id % 7) * 3 AS INTEGER) AS width,
           CAST(10 + (doc_id % 5) * 3 AS INTEGER) AS height,
           CAST((10 + (doc_id % 7) * 3) * (10 + (doc_id % 5) * 3) AS BIGINT) AS n_pixels,
           CAST((doc_id * 29) % 256 AS DOUBLE) AS mean_gray
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def l5_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF87a decode, oracle-checked through bytes: a third
    compression family (LZW — variable-width codes, dictionary resets
    at the 12-bit ceiling, KwKwK case) next to PNG's deflate and
    JPEG's DCT+Huffman (operators/codecs.py).  GIF is lossless, so any
    solid value round-trips bit-exactly with no lattice constraint —
    the decoded means are closed-form for DuckDB."""
    from chronicle_sniffer_spark.operators.multimodal import (
        gif_stats,
        synthesize_gif_corpus,
    )

    return gif_stats(synthesize_gif_corpus(load_table(spark, sf_dir, "documents")))


@query(
    "l5_video_decode",
    section="L5",
    oracle="""
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, CAST(1 + doc_id % 4 AS BIGINT))) AS f
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id AS media_id,
           CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
           CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
           CAST(8 * (1 + doc_id % 2) AS INTEGER) AS height,
           sum(2 * ((doc_id * 7 + f * 11) % 128)) / count(*) AS mean_gray,
           CAST(sum((f + 1) * 2 * ((doc_id * 7 + f * 11) % 128)) AS DOUBLE) AS wsum_gray
    FROM f GROUP BY doc_id
    """,
)
def l5_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-sample video decode, oracle-checked through bytes: each
    video is a playable Motion-JPEG MP4 (full stsd/stts/stsc/stsz/stco
    sample table, operators/codecs.py), decode walks the table to the
    exact frame byte ranges and baseline-JPEG-decodes every frame
    (operators/jpeg.py).  Frames sit on the exactness lattice with a
    DISTINCT value per frame, so the frame-index-weighted sum only
    matches DuckDB's closed form if extraction hit every sample in
    order.  The reference decodes media bytes at the DAG edge the same
    way (processor_app.py:150-155, tshark); closes the repo's last
    decode stub."""
    from chronicle_sniffer_spark.operators.multimodal import (
        synthesize_mjpeg_video_corpus,
        video_decode_stats,
    )

    return video_decode_stats(synthesize_mjpeg_video_corpus(load_table(spark, sf_dir, "documents")))
