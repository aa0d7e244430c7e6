"""Round-7 catalog additions — three operators a 100 TB training-data
stack runs daily that the catalog still lacked:

- **A14 count-min-sketch heavy hitters**: the mergeable frequency
  sketch (Cormode & Muthukrishnan, J. Algorithms 2005).  The sketch is
  d×w cells regardless of corpus size, built by one map-side-combined
  aggregate; estimates are a broadcast probe.  Deterministic: bucket
  hashes are md5 nibble folds (engine-identical), no RNG.
- **ML6 point-in-time training-set assembly**: the feature-store
  discipline — every label row sees only feature values at-or-before
  its timestamp (no leakage from the future).  One tagged union + one
  ordered window per key joins ALL feature streams in a single
  user_id shuffle; the oracle replays it with DuckDB's native ASOF
  joins.
- **L4 BPE merge-step**: the inner-loop primitive of a BPE tokenizer
  trainer — occurrence-weighted adjacent-symbol-pair counts and the
  top merge candidates.  A full trainer iterates this exact counting
  pass after applying the chosen merge; each iteration is one
  explode + one token-keyed aggregate.

House determinism rules (plans/catalog.py) apply: identical aliases
both engines, integer sums cast to BIGINT, LIMIT made deterministic
with full tie-break keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.graph import _COPURCHASE_CTES, _copurchase_edges
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# A14: count-min-sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row
CMS_TOPK = 10

# bucket_i(word) = (16-bit nibble fold of md5(i || ':' || word)) % width
# — the same engine-identical md5 nibble idiom as operators/simhash.py.
_NIBBLE = "(instr('0123456789abcdef', substr({h}, {j}, 1)) - 1)"


def _bucket_sql(h: str) -> str:
    fold = " + ".join(
        f"{_NIBBLE.format(h=h, j=j + 1)} * {16 ** (3 - j)}" for j in range(4)
    )
    return f"(({fold}) % {CMS_WIDTH})"


@query(
    "a14_cms_heavy_hitters",
    section="A3",
    oracle=f"""
    WITH words AS (
      SELECT w FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    salted AS (
      SELECT i, {_bucket_sql("md5(CAST(i AS VARCHAR) || ':' || w)")} AS bucket, w
      FROM words, unnest(generate_series(1, {CMS_DEPTH})) AS t(i)
    ),
    cms AS (
      SELECT i, bucket, count(*) AS cell FROM salted GROUP BY i, bucket
    ),
    vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS true_cnt
              FROM words GROUP BY w),
    probes AS (
      SELECT v.w, v.true_cnt, s.i,
             {_bucket_sql("md5(CAST(s.i AS VARCHAR) || ':' || v.w)")} AS bucket
      FROM vocab v, unnest(generate_series(1, {CMS_DEPTH})) AS s(i)
    ),
    est AS (
      SELECT p.w AS word, CAST(min(c.cell) AS BIGINT) AS est_cnt,
             max(p.true_cnt) AS true_cnt
      FROM probes p JOIN cms c ON c.i = p.i AND c.bucket = p.bucket
      GROUP BY p.w
    )
    SELECT word, est_cnt, true_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overcount
    FROM est ORDER BY est_cnt DESC, word LIMIT {CMS_TOPK}
    """,
)
def a14_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through a count-min sketch, checked against the
    exact counts.

    Scale shape: the sketch is {d}×{w} = {cells} cells NO MATTER the
    corpus size — built by one map-side-combinable aggregate over the
    salted token stream, mergeable across partitions/days by cell-wise
    sum.  Probing broadcasts the tiny sketch onto the candidate set
    (here the distinct vocabulary; at 100 TB the candidates come from
    a cheap pre-pass) and takes the min over the d rows.  CMS
    overestimates only — the `overcount` column is always ≥ 0, which
    the oracle verifies value-for-value.  Bucket hashing is the
    engine-identical md5 nibble fold (operators/simhash.py:35), so
    both engines build the IDENTICAL sketch — no RNG, no seed.
    """
    from chronicle_sniffer_spark.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    words = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    salt = F.explode(
        F.array(*[F.lit(i) for i in range(1, CMS_DEPTH + 1)])
    ).alias("i")
    # materialize md5 ONCE per salted row; the nibble fold references
    # the column (simhash lesson: folding over a recomputed md5 expr
    # multiplies the hash work by the nibble count)
    salted = (
        words.select("w", salt)
        .withColumn(
            "h", F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), "w").cast("binary"))
        )
        .select("i", "w", F.expr(_bucket_sql("h")).alias("bucket"))
    )
    cms = salted.groupBy("i", "bucket").agg(F.count("*").alias("cell"))
    vocab = words.groupBy("w").agg(F.count("*").cast("bigint").alias("true_cnt"))
    probes = (
        vocab.select("w", "true_cnt", salt)
        .withColumn(
            "h", F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), "w").cast("binary"))
        )
        .select("w", "true_cnt", "i", F.expr(_bucket_sql("h")).alias("bucket"))
    )
    est = (
        probes.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.min("cell").cast("bigint").alias("est_cnt"),
            F.max("true_cnt").alias("true_cnt"),
        )
    )
    return (
        est.select(
            "word",
            "est_cnt",
            "true_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("est_cnt").desc(), "word")
        .limit(CMS_TOPK)
    )


a14_cms_heavy_hitters.__doc__ = a14_cms_heavy_hitters.__doc__.format(
    d=CMS_DEPTH, w=CMS_WIDTH, cells=CMS_DEPTH * CMS_WIDTH
)


# ---------------------------------------------------------------------------
# ML6: point-in-time training-set assembly (feature-store join)
# ---------------------------------------------------------------------------


@query(
    "ml6_pit_training_set",
    section="ML6",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value AS label
      FROM events WHERE event_type = 'purchase'
    ),
    pp AS (
      SELECT *, CAST(rank() OVER (PARTITION BY user_id ORDER BY ts) - 1
                     AS BIGINT) AS n_prior
      FROM p
    ),
    c AS (
      SELECT user_id, ts, max(value) AS f_click
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    v AS (
      SELECT user_id, ts, max(value) AS f_view
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT pp.event_id, pp.user_id, pp.ts AS p_ts, pp.label, pp.n_prior,
           c.f_click, v.f_view
    FROM pp
    ASOF LEFT JOIN c ON pp.user_id = c.user_id AND pp.ts >= c.ts
    ASOF LEFT JOIN v ON pp.user_id = v.user_id AND pp.ts >= v.ts
    """,
)
def ml6_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly: each label row
    (purchase) is joined with the LATEST value of every feature stream
    at-or-before its timestamp, plus a strictly-prior label count —
    the feature-store discipline that prevents future leakage into
    training data.

    Scale shape: ALL feature streams ride ONE tagged union and ONE
    ordered window per user — a single user_id shuffle regardless of
    how many feature columns are assembled (generalizes j8_asof from
    one feature to N; a per-feature range join would be N shuffles and
    quadratic probes).  The prior-label rank shares the same partition
    key, so AQE reuses the exchange.  The oracle replays it with
    DuckDB's native chained ASOF joins.  Rank (not row_number) makes
    the prior count deterministic under equal-ts label ties.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("label")
    )
    wp = Window.partitionBy("user_id").orderBy("ts")
    pp = p.withColumn("n_prior", (F.rank().over(wp) - 1).cast("bigint"))
    feats = {
        "f_click": "click",
        "f_view": "view",
    }
    tagged = pp.select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        "event_id",
        "label",
        "n_prior",
        *[F.lit(None).cast("double").alias(f"{k}_in") for k in feats],
    )
    for k, etype in feats.items():
        f = (
            e.filter(F.col("event_type") == etype)
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias(k))
        )
        tagged = tagged.unionByName(
            f.select(
                "user_id",
                "ts",
                F.lit(0).alias("tag"),
                F.lit(None).cast("long").alias("event_id"),
                F.lit(None).cast("double").alias("label"),
                F.lit(None).cast("bigint").alias("n_prior"),
                *[
                    (F.col(k) if k2 == k else F.lit(None).cast("double")).alias(
                        f"{k2}_in"
                    )
                    for k2 in feats
                ],
            )
        )
    # features (tag 0) sort before labels (tag 1) at equal ts → "<=" semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged
    for k in feats:
        out = out.withColumn(k, F.last(f"{k}_in", ignorenulls=True).over(w))
    return out.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        "label",
        "n_prior",
        *feats,
    )


# ---------------------------------------------------------------------------
# L3: ANN serving-quality evaluation (recall@k of LSH vs exact)
# ---------------------------------------------------------------------------

RECALL_QMOD = 64  # query stride
RECALL_NQ = 8  # FIXED query budget: vec_id in {0, 64, ..., 448}
RECALL_K = 10


def _recall_oracle() -> str:
    from chronicle_sniffer_spark.operators.similarity import oracle_bucket_keys_sql

    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {oracle_bucket_keys_sql()} AS keys FROM embeddings
    ),
    q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, keys
      FROM bk WHERE vec_id % {RECALL_QMOD} = 0 AND vec_id < {RECALL_QMOD * RECALL_NQ}
    ),
    qk AS (SELECT qid, unnest(keys) AS qkey FROM q),
    cand AS (
      SELECT DISTINCT qk.qid, b.vec_id
      FROM bk b JOIN qk ON list_contains(b.keys, qk.qkey)
      WHERE b.vec_id <> qk.qid
    ),
    ann AS (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
               row_number() OVER (
                 PARTITION BY c.qid
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                          DESC, c.vec_id) AS rn
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN q ON q.qid = c.qid
      ) WHERE rn <= {RECALL_K}
    ),
    ex AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                          DESC, e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid
      ) WHERE rn <= {RECALL_K}
    )
    SELECT ex.qid AS query_vec_id,
           CAST(count(ann.vec_id) AS BIGINT) AS n_hits,
           round(count(ann.vec_id) * 1.0 / {RECALL_K}, 6) AS recall
    FROM ex LEFT JOIN ann ON ann.qid = ex.qid AND ann.vec_id = ex.vec_id
    GROUP BY ex.qid
    """


@query("l3_ann_recall_eval", section="L3", oracle=_recall_oracle())
def l3_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-quality measurement: recall@{k} of the LSH ANN path
    against exact brute-force top-k, over a deterministic modulo
    sample of query vectors (a FIXED budget of {nq} queries, the
    standard recall-eval discipline) — the metric an ANN deployment
    actually monitors before trusting its index.

    Scale shape: the ONLY corpus-sized work is (a) the bucket-key
    projection (narrow map) and (b) one broadcast-nested-loop score
    pass of N×Q rows for the EXACT side, where Q = {nq} is FIXED — so the
    ground-truth pass stays LINEAR in the corpus no matter the scale
    (a fraction-of-N sample would make it quadratic); the ANN side is the same
    bucket equi-join the serving path uses.  All ranking ties break on
    (6-dp sim, vec_id) so both engines pick identical top-k sets."""
    from chronicle_sniffer_spark.operators.similarity import (
        as_double,
        cosine,
        with_bucket_keys,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # with_bucket_keys is a MapInPandas — opaque to filter pushdown, so
    # the three consumers (candidate side, query keys, query vectors)
    # each re-ran the full-corpus Arrow matmul; materialize the keyed
    # corpus ONCE per call, BEFORE the bucket explode so the embedding
    # arrays are stored 1× (not L×)
    base = with_bucket_keys(emb).localCheckpoint(eager=True)
    keyed = base.select("vec_id", "embedding", F.explode("bkeys").alias("bkey"))
    q_base = base.filter(
        (F.col("vec_id") % RECALL_QMOD == 0)
        & (F.col("vec_id") < RECALL_QMOD * RECALL_NQ)
    )
    qs = q_base.select(
        F.col("vec_id").alias("qid"),
        F.explode("bkeys").alias("qkey"),
        as_double(F.col("embedding")).alias("qv"),
    )
    cand = (
        keyed.join(
            F.broadcast(qs),
            (F.col("bkey") == F.col("qkey")) & (F.col("vec_id") != F.col("qid")),
        )
        .dropDuplicates(["qid", "vec_id"])
        .select("qid", "vec_id", "embedding", "qv")
    )
    rnk = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    ann = (
        cand.select(
            "qid",
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(rnk))
        .filter(F.col("rn") <= RECALL_K)
        .select("qid", "vec_id")
    )
    # one row per query already (no explode) — the former
    # dropDuplicates over the exploded keys re-ran the matmul AND paid
    # a dedup shuffle for rows that were L copies of the same vector
    qvs = q_base.select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    exact = (
        emb.join(F.broadcast(qvs), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(as_double(F.col("embedding")), F.col("qv")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(rnk))
        .filter(F.col("rn") <= RECALL_K)
        .select("qid", "vec_id")
    )
    # full rename before the self-join: exact and ann share the
    # embeddings lineage, and bare column refs would be ambiguous
    annr = ann.select(F.col("qid").alias("a_qid"), F.col("vec_id").alias("a_vec"))
    return (
        exact.join(
            annr,
            (F.col("qid") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vec")),
            "left",
        )
        .groupBy(F.col("qid").alias("query_vec_id"))
        .agg(
            F.count("a_vec").cast("bigint").alias("n_hits"),
            F.round(F.count("a_vec") / F.lit(RECALL_K), 6).alias("recall"),
        )
    )


l3_ann_recall_eval.__doc__ = l3_ann_recall_eval.__doc__.format(
    k=RECALL_K, nq=RECALL_NQ
)


# ---------------------------------------------------------------------------
# G2: triangle counting (degree-oriented node-iterator)
# ---------------------------------------------------------------------------

@query(
    "g2_triangle_count",
    section="G2",
    oracle=f"""
    WITH {_COPURCHASE_CTES},
    wedges AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    ),
    tri AS (
      SELECT w.a, w.b, w.c FROM wedges w
      JOIN edges e3 ON e3.u = w.a AND e3.v = w.c
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles
    """,
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the capped purchase co-occurrence graph
    (users buying in the same hour, bounded participation — see
    ``G2_HOUR_CAP``) — the clustering/community primitive next to
    g1's PageRank.

    Scale shape: two layers.  (1) The GRAPH stays tractable by
    construction: bounded per-bucket participation keeps edges linear
    in history length however high the event rate climbs.  (2) The
    COUNT uses the degree-oriented node-iterator (Schank & Wagner
    2005) — every edge is re-oriented from its lower-degree endpoint
    to the higher (ties on id), so wedge generation fans out from
    low-degree apexes only and the join volume is O(m^1.5) instead of
    Σdeg² (a single celebrity node cannot explode the wedge count).
    Three hash joins total: orientation (edges×degrees, degrees
    broadcastable), wedge build (oriented⋈oriented on the apex), and
    the closing-edge semi join.  Orientation never changes the
    COUNT, so the oracle counts triangles directly on the canonical
    u<v edge set.

    The edge table feeds SIX consumers (degree agg, orientation,
    both wedge sides, the closing semi-join, the n_edges agg):
    materialize it once per call (g9/g12/g13 policy — the eager
    localCheckpoint is RDD-keyed, so it cannot serve a later run);
    degrees come from one explode of the [u, v] array instead of a
    union of two projections."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low-degree -> high-degree (ties: lower id first).  No
    # broadcast HINT on the degree tables: degrees are O(nodes) and an
    # uncapped caller's node set can exceed driver memory — AQE picks
    # broadcast on its own whenever the measured size allows (it does
    # at gate scale), and degrades to shuffle join instead of OOM
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2, (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.t") < F.col("o2.t"))
    ).select(
        F.col("o1.t").alias("x"), F.col("o2.t").alias("y")
    )
    # close the wedge with the canonical undirected edge set
    closing = edges.select(
        F.least("u", "v").alias("cu"), F.greatest("u", "v").alias("cv")
    )
    tri = wedges.join(
        closing,
        (F.least("x", "y") == F.col("cu")) & (F.greatest("x", "y") == F.col("cv")),
        "left_semi",
    )
    return edges.agg(F.count("*").cast("bigint").alias("n_edges")).crossJoin(
        F.broadcast(tri.agg(F.count("*").cast("bigint").alias("n_triangles")))
    )


# ---------------------------------------------------------------------------
# S8b: bucketed-table co-located join (shuffle-free fact-fact join)
# ---------------------------------------------------------------------------

BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem and orders bucketed+sorted on the join key ONCE
    per session and serve them many times — the 100 TB shape, where
    bucketing is a property of the stored table.  External tables
    (explicit path): the catalog entry dies with the session and the
    files with the process, so nothing is dropped or reused later."""

    def build() -> tuple[str, str]:
        d = session_tmpdir("css_bkt_")
        names = []
        for table, cols in (
            ("lineitem", ("l_orderkey", "l_extendedprice", "l_discount")),
            ("orders", ("o_orderkey", "o_orderpriority")),
        ):
            name = f"{os.path.basename(d)}_{table}"
            (
                load_table(spark, sf_dir, table)
                .select(*cols)
                .write.mode("overwrite")
                .format("parquet")
                .bucketBy(BUCKETS, cols[0])
                .sortBy(cols[0])
                .option("path", os.path.join(d, table))
                .saveAsTable(name)
            )
            names.append(name)
        return names[0], names[1]

    return session_memo(spark, ("s8b_bucketed", os.path.abspath(sf_dir)), build)


@query(
    "s8b_bucketed_colocated_join",
    section="S8",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def s8b_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through BUCKETED tables: lineitem and orders are
    stored bucketed+sorted on the join key, so the sort-merge join
    runs with NO shuffle and NO sort on either side — each task reads
    bucket i of both tables and merges.  At 100 TB this is the
    difference between re-shuffling 100 TB per join and a pure
    co-located scan (the layout cost is paid once at write time,
    amortized over every subsequent join on that key).  The single
    Exchange left in the plan is the tiny post-join groupBy — asserted
    in tests/test_round7.py.  The oracle joins the plain parquet
    views: the layout must never change the answer."""
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name).hint("merge")
    o = spark.table(o_name).hint("merge")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# DQ4: snapshot-drift report (training-data distribution monitor)
# ---------------------------------------------------------------------------


@query(
    "dq4_drift_report",
    section="DQ4",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
             lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    tot AS (
      SELECT snap, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sc,
             CAST(sum(n_tokens) AS BIGINT) AS st
      FROM tagged GROUP BY snap
    ),
    overall AS (
      SELECT 'n_docs' AS metric,
             round(CAST(max(CASE WHEN snap='a' THEN n END) AS DOUBLE), 6) AS val_a,
             round(CAST(max(CASE WHEN snap='b' THEN n END) AS DOUBLE), 6) AS val_b
      FROM tot
      UNION ALL
      SELECT 'mean_chars',
             round(max(CASE WHEN snap='a' THEN sc END) * 1.0
                   / max(CASE WHEN snap='a' THEN n END), 6),
             round(max(CASE WHEN snap='b' THEN sc END) * 1.0
                   / max(CASE WHEN snap='b' THEN n END), 6)
      FROM tot
      UNION ALL
      SELECT 'mean_tokens',
             round(max(CASE WHEN snap='a' THEN st END) * 1.0
                   / max(CASE WHEN snap='a' THEN n END), 6),
             round(max(CASE WHEN snap='b' THEN st END) * 1.0
                   / max(CASE WHEN snap='b' THEN n END), 6)
      FROM tot
    ),
    shares AS (
      SELECT 'share_' || lang AS metric,
             round(CAST(sum(CASE WHEN snap='a' THEN 1 ELSE 0 END) AS DOUBLE)
                   / (SELECT max(CASE WHEN snap='a' THEN n END) FROM tot), 6) AS val_a,
             round(CAST(sum(CASE WHEN snap='b' THEN 1 ELSE 0 END) AS DOUBLE)
                   / (SELECT max(CASE WHEN snap='b' THEN n END) FROM tot), 6) AS val_b
      FROM tagged GROUP BY lang
    )
    SELECT metric, val_a, val_b, round(abs(val_a - val_b), 6) AS abs_delta
    FROM (SELECT * FROM overall UNION ALL SELECT * FROM shares)
    """,
)
def dq4_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two corpus snapshots (here
    the deterministic doc_id-parity halves standing in for
    yesterday/today): per-snapshot doc counts, mean char/token
    lengths, and per-language share — with the absolute delta a drift
    alert thresholds on.  The check a continuously-crawled training
    corpus runs before every new data drop is admitted.

    Scale shape: ONE scan computes every per-snapshot aggregate as
    conditional columns (no per-metric passes), the language shares
    are a tiny groupBy over the same tagged relation, and the metric
    rows are a constant-size union — output is O(#metrics), never
    O(corpus).  Integer sums are exact; the only doubles are final
    ratios rounded at 6 dp on both engines."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("snap"),
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    tot = tagged.groupBy("snap").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sc"),
        F.sum("n_tokens").cast("bigint").alias("st"),
    )
    a = F.max(F.when(F.col("snap") == "a", F.col("n")))
    b = F.max(F.when(F.col("snap") == "b", F.col("n")))
    sca = F.max(F.when(F.col("snap") == "a", F.col("sc")))
    scb = F.max(F.when(F.col("snap") == "b", F.col("sc")))
    sta = F.max(F.when(F.col("snap") == "a", F.col("st")))
    stb = F.max(F.when(F.col("snap") == "b", F.col("st")))
    overall = tot.agg(
        F.round(a.cast("double"), 6).alias("n_a"),
        F.round(b.cast("double"), 6).alias("n_b"),
        F.round(sca * 1.0 / a, 6).alias("mc_a"),
        F.round(scb * 1.0 / b, 6).alias("mc_b"),
        F.round(sta * 1.0 / a, 6).alias("mt_a"),
        F.round(stb * 1.0 / b, 6).alias("mt_b"),
    ).select(
        F.expr(
            "stack(3, 'n_docs', n_a, n_b, 'mean_chars', mc_a, mc_b,"
            " 'mean_tokens', mt_a, mt_b) AS (metric, val_a, val_b)"
        )
    )
    counts = tagged.groupBy("lang").agg(
        F.sum(F.when(F.col("snap") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("snap") == "b", 1).otherwise(0)).alias("cb"),
    )
    totals = tot.agg(a.alias("na"), b.alias("nb"))
    shares = counts.crossJoin(F.broadcast(totals)).select(
        F.concat(F.lit("share_"), F.col("lang")).alias("metric"),
        F.round(F.col("ca").cast("double") / F.col("na"), 6).alias("val_a"),
        F.round(F.col("cb").cast("double") / F.col("nb"), 6).alias("val_b"),
    )
    return overall.unionByName(shares).select(
        "metric",
        "val_a",
        "val_b",
        F.round(F.abs(F.col("val_a") - F.col("val_b")), 6).alias("abs_delta"),
    )


# ---------------------------------------------------------------------------
# L4: BPE merge-step (tokenizer-trainer inner loop)
# ---------------------------------------------------------------------------

BPE_TOPK = 10


@query(
    "l4_bpe_merge_step",
    section="L4",
    oracle=f"""
    WITH wc AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    pairs AS (
      SELECT substring(w, t.i, 2) AS pair, wc.cnt
      FROM wc, unnest(generate_series(1, length(w) - 1)) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT {BPE_TOPK}
    """,
)
def l4_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One merge-selection step of a BPE tokenizer trainer:
    occurrence-weighted adjacent-symbol-pair counts over the corpus
    and the top merge candidates.  A full trainer applies the winning
    merge to the symbol sequences and repeats this exact pass — so the
    per-iteration cost IS this plan.

    Scale shape: counting runs over the (word, count) DICTIONARY, not
    the raw token stream — Zipf collapses the corpus to its vocabulary
    before the pair fan-out, so each iteration's explode is
    |vocab|×|word| rows, not |corpus| (the standard trainer trick).
    The pair fan-out is the codegen-friendly explode(sequence)+
    substring shape (no higher-order lambdas — see
    operators/simhash.py's CodegenFallback note), and the count is one
    token-keyed partially-aggregated groupBy.
    """
    from chronicle_sniffer_spark.tables import spread

    d = spread(load_table(spark, sf_dir, "documents").select("text"))
    wc = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            "w",
            "cnt",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.substring(F.col("w"), F.col("i"), 2).alias("pair"), "cnt")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# A15: bitmap-based exact distinct counting
# ---------------------------------------------------------------------------


@query(
    "a15_bitmap_distinct",
    section="A15",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a15_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type via Spark's native
    mergeable bitmap aggregate (`bitmap_construct_agg`) — the
    warehouse pattern for exact COUNT(DISTINCT) at scale.

    Scale shape: a plain `count(distinct user_id)` must either expand
    to a two-phase distinct (shuffling every raw (event_type, user_id)
    pair) or buffer per-group hash sets.  The bitmap form instead
    bucket-partitions the id space (`bitmap_bucket_number`, 2^15 ids
    per bucket) and builds a fixed-width 4 KB bitmap per
    (group, bucket) with a map-side-combinable aggregate — partial
    bitmaps OR together, so the shuffle carries compressed set state,
    not raw ids, and the final count is a cheap popcount + sum.  The
    same bitmaps are storable, making the distinct count incrementally
    maintainable (see o10's merge discipline)."""
    e = load_table(spark, sf_dir, "events")
    partial = e.groupBy(
        "event_type", F.bitmap_bucket_number(F.col("user_id")).alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias("bm"),
        F.count("*").alias("c"),
    )
    return partial.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users"),
        F.sum("c").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# O9b: SCD type-2 validity intervals from a change stream
# ---------------------------------------------------------------------------


@query(
    "o9b_scd2_intervals",
    section="O9",
    oracle="""
    WITH src AS (
      SELECT o_custkey AS custkey, o_orderkey,
             o_orderpriority AS priority,
             CAST(o_orderdate AS TIMESTAMP) AS od
      FROM orders WHERE o_custkey % 10 = 0
    ),
    marked AS (
      SELECT *, CASE WHEN lag(priority) OVER w IS DISTINCT FROM priority
                     THEN 1 ELSE 0 END AS chg
      FROM src WINDOW w AS (PARTITION BY custkey ORDER BY od, o_orderkey)
    ),
    runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY custkey ORDER BY od, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM marked
    ),
    iv AS (
      SELECT custkey, version, priority,
             min(od) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM runs GROUP BY custkey, version, priority
    )
    SELECT custkey, CAST(version AS BIGINT) AS version, priority, valid_from,
           n_orders,
           lead(valid_from) OVER w2 AS valid_to,
           CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM iv WINDOW w2 AS (PARTITION BY custkey ORDER BY version)
    """,
)
def o9b_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse a per-customer
    change stream (order priority over order date) into versioned
    validity intervals [valid_from, valid_to) with a current-row flag
    — the other half of the CDC story next to o9_cdc_latest (type-1).

    The run-collapse is the gaps-and-islands pattern: lag() marks
    change points, a running sum of marks assigns version numbers,
    one groupBy folds each run to its interval, and lead() closes
    each interval with the next version's start.  Everything is
    keyed on custkey — ONE shuffle feeds both windows and the
    aggregate, and at 100 TB the dimension build stays a single
    hash-partitioned pass (no self-join against history).  The
    deterministic `% 10` customer slice keeps gate output bounded;
    production runs unsliced with identical shape."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            F.col("o_custkey").alias("custkey"),
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").cast("timestamp").alias("od"),
        )
    )
    w = Window.partitionBy("custkey").orderBy("od", "o_orderkey")
    prev = F.lag("priority").over(w)
    marked = o.select(
        "custkey",
        "o_orderkey",
        "priority",
        "od",
        F.when(prev.isNull() | (prev != F.col("priority")), 1).otherwise(0).alias("chg"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = marked.select(
        "custkey", "priority", "od", F.sum("chg").over(wrun).alias("version")
    )
    iv = runs.groupBy("custkey", "version", "priority").agg(
        F.min("od").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy("version")
    nxt = F.lead("valid_from").over(w2)
    return iv.select(
        "custkey",
        F.col("version").cast("bigint").alias("version"),
        "priority",
        "valid_from",
        "n_orders",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# L4: positional inverted-index phrase search
# ---------------------------------------------------------------------------

PHRASE = ("hash", "join")


@query(
    "l4_phrase_search",
    section="L4",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t.i - 1 AS pos, words[t.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           unnest(generate_series(1, len(words))) AS t(i)
    )
    SELECT p1.doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(p1.pos) AS BIGINT) AS first_pos
    FROM toks p1 JOIN toks p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
    WHERE p1.w = '{PHRASE[0]}' AND p2.w = '{PHRASE[1]}'
    GROUP BY p1.doc_id
    """,
)
def l4_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("{0} {1}") via a positional inverted
    index: per-term posting lists (doc_id, position) joined on
    adjacent positions — the scalable alternative to scanning every
    document with a substring match.

    Scale shape: at 100 TB the postings relation is built ONCE and
    stored bucketed by term; a phrase query then reads only the two
    query terms' posting lists (partition/bucket pruning on the term
    key), and the adjacency join is an equi-join on
    (doc_id, pos == pos+1) between two relations each a tiny fraction
    of the corpus.  Here the postings are derived inline from the
    same plan (posexplode), so Catalyst pushes each term filter to
    its own branch of the explode — no unfiltered all-postings
    shuffle ever forms."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    p1 = toks.filter(F.col("w") == PHRASE[0]).select("doc_id", "pos")
    p2 = toks.filter(F.col("w") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    hits = p1.join(
        p2,
        (F.col("doc_id") == F.col("doc_id2")) & (F.col("pos2") == F.col("pos") + 1),
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


l4_phrase_search.__doc__ = l4_phrase_search.__doc__.format(*PHRASE)


# ---------------------------------------------------------------------------
# O10: incremental aggregate refresh (mergeable partial state)
# ---------------------------------------------------------------------------

REFRESH_CUTOFF = "2024-01-20"


@query(
    "o10_incremental_agg_refresh",
    section="O10",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(epoch_us(CAST(min(ts) AS TIMESTAMP)) AS BIGINT) AS min_ts_us,
           CAST(epoch_us(CAST(max(ts) AS TIMESTAMP)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    """,
)
def o10_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate refresh: the standing
    aggregate over history is NOT recomputed when a new batch lands —
    the base partial state (count / exact-cents sum / min / max, all
    mergeable) merges with the delta batch's partial state in one
    tiny union+re-aggregate.  The oracle recomputes from scratch,
    proving merge(base, delta) == full recompute.

    Scale shape: at 100 TB this is the difference between scanning
    the full history every refresh and scanning ONLY the new
    partition — the base state is O(#groups) rows read back from the
    serving store.  Every measure here is an algebraic aggregate
    (merge = sum/min/max of partials); the non-algebraic one a real
    pipeline needs — exact distinct — merges the same way via a15's
    stored bitmaps (bitmap_or_agg).  Money stays in integer cents
    (floor(value*100) on IEEE doubles is engine-identical), never
    summed as floats."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(REFRESH_CUTOFF).cast("timestamp")

    def partial_state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("min_ts_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("max_ts_us"),
        )

    base = partial_state(e.filter(F.col("ts").cast("timestamp") < cut))
    delta = partial_state(e.filter(F.col("ts").cast("timestamp") >= cut))
    return base.unionByName(delta).groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        F.min("min_ts_us").cast("bigint").alias("min_ts_us"),
        F.max("max_ts_us").cast("bigint").alias("max_ts_us"),
    )


# ---------------------------------------------------------------------------
# A4b: mergeable histogram quantile summary
# ---------------------------------------------------------------------------

QH_BINS = 64
QH_WIDTH = 16.0  # value domain [0, 1024); top bin absorbs overflow


@query(
    "a4b_mergeable_quantiles",
    section="A4",
    oracle=f"""
    WITH hist AS (
      SELECT event_type,
             least({QH_BINS - 1}, CAST(floor(value / {QH_WIDTH}) AS INT)) AS bin,
             count(*) AS c
      FROM events GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS total
      FROM hist
    )
    SELECT event_type,
           CAST(max(total) AS BIGINT) AS n_events,
           -- CAST AS DOUBLE: the {QH_WIDTH} literal is DECIMAL(3,1) in
           -- DuckDB, and Decimal('48.0') vs double 48.0 diverge under a
           -- strict fetchall() canonicalizer even though numerically equal
           min(CASE WHEN cum >= (total * 50 + 99) // 100
               THEN CAST((bin + 1) * {QH_WIDTH} AS DOUBLE) END) AS p50_edge,
           min(CASE WHEN cum >= (total * 90 + 99) // 100
               THEN CAST((bin + 1) * {QH_WIDTH} AS DOUBLE) END) AS p90_edge,
           min(CASE WHEN cum >= (total * 99 + 99) // 100
               THEN CAST((bin + 1) * {QH_WIDTH} AS DOUBLE) END) AS p99_edge
    FROM cum GROUP BY event_type
    """,
)
def a4b_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a MERGEABLE fixed-width histogram
    summary — the two-level scale path next to a4's exact
    percentiles.

    Scale shape: exact percentiles need the values themselves at the
    reducer; this summary is {bins} integer counters per group, built
    by one map-side-combinable aggregate, and partial histograms from
    any partitioning of the data (executors, days, incremental
    batches — see o10) merge by vector addition without touching raw
    rows again.  Quantiles then read off the cumulative bin counts:
    the reported value is the upper edge of the first bin whose
    cumulative count reaches ceil(q·n) — error bounded by the bin
    width, deterministic (integer thresholds, power-of-two bin edges,
    engine-identical floor on IEEE doubles), no sampling."""
    e = load_table(spark, sf_dir, "events")
    bin_col = F.least(
        F.lit(QH_BINS - 1), F.floor(F.col("value") / QH_WIDTH).cast("int")
    ).alias("bin")
    hist = e.groupBy("event_type", bin_col).agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("total"),
    )

    def edge_at(pct: int):
        k = F.expr(f"(total * {pct} + 99) DIV 100")
        return F.min(
            F.when(F.col("cum") >= k, (F.col("bin") + 1) * F.lit(QH_WIDTH))
        ).alias(f"p{pct}_edge")

    return cum.groupBy("event_type").agg(
        F.max("total").cast("bigint").alias("n_events"),
        edge_at(50),
        edge_at(90),
        edge_at(99),
    )


a4b_mergeable_quantiles.__doc__ = a4b_mergeable_quantiles.__doc__.format(bins=QH_BINS)


# ---------------------------------------------------------------------------
# G3: connected components (standalone catalog entry)
# ---------------------------------------------------------------------------


@query(
    "g3_cc_components",
    section="G3",
    oracle=f"""
    WITH RECURSIVE {_COPURCHASE_CTES},
    bidir AS (
      SELECT u AS a, v AS b FROM edges
      UNION SELECT v, u FROM edges
    ),
    reach(n, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM bidir)
      UNION
      SELECT b.b, reach.r FROM reach JOIN bidir b ON b.a = reach.n
    ),
    labs AS (SELECT n, min(r) AS lbl FROM reach GROUP BY n),
    comp AS (SELECT lbl, count(*) AS sz FROM labs GROUP BY lbl)
    SELECT CAST(count(*) AS BIGINT) AS n_components,
           CAST(sum(sz) AS BIGINT) AS n_nodes,
           CAST(max(sz) AS BIGINT) AS largest_component
    FROM comp
    """,
)
def g3_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the capped purchase co-occurrence graph
    (``G2_HOUR_CAP``) as a first-class catalog entry — the same
    operator that powers the near-dup cluster fold
    (l2_dedup_clusters), exercised on a graph with a very different
    shape (one dense social blob vs piles of tiny cliques) and proven
    against a DuckDB recursive-CTE transitive-closure oracle.

    Scale shape: min-label propagation, one join + one grouped min
    per round, O(diameter) rounds, with the automatic
    large-star/small-star switch (O(log n) rounds) for adversarial
    diameters — `operators/dedup.py:connected_components`; every
    round localCheckpoints, so the logical plan stays flat however
    many rounds the diameter demands.  The oracle's transitive
    closure is Θ(Σ component²) rows and exists ONLY as a gate-scale
    referee; the Spark side never materializes reachability, just
    (node, label)."""
    from chronicle_sniffer_spark.operators.dedup import connected_components

    edges = _copurchase_edges(spark, sf_dir)
    labels = connected_components(edges, src="u", dst="v")
    comp = labels.groupBy("label").agg(F.count("*").alias("sz"))
    return comp.agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum("sz").cast("bigint").alias("n_nodes"),
        F.max("sz").cast("bigint").alias("largest_component"),
    )
