"""Catalog entries: distributed model TRAINING and EVALUATION as
declarative Spark plans (ML1-ML3).

A 100 TB curation pipeline does not stop at filtering — it trains the
filters: quality classifiers (fastText-style linear models over the
corpus), language/source priors, and threshold sweeps to pick the
operating point.  These entries show that the training loop itself is
expressible as ordinary Catalyst plans, with NO ML library and NO
driver-side parameter server:

- **ML1 `ml1_logreg_gd`** — full-batch gradient-descent logistic
  regression.  Each iteration is ONE map-side-combinable aggregate
  (the classic allreduce step: partial gradient sums per partition,
  one merge); the updated weight vector flows to the next iteration
  as a broadcast 1-row DataFrame, so the whole T-step training run is
  a single lazy plan with no ``collect()`` round-trips.
- **ML2 `ml2_naive_bayes`** — multinomial Naive Bayes trained in one
  pass: a (class, word) grouped count with partial aggregation, class
  totals and the vocabulary size joined back by broadcast.
- **ML3 `ml3_eval_confusion`** — threshold-sweep evaluation of the
  ML1 model: confusion counts + precision/recall/F1 at 9 operating
  points, one pass over the scored corpus with a broadcast threshold
  grid.

Determinism (the reason this file looks the way it does):

- Gradient contributions are irrational doubles, so a plain
  ``sum(double)`` is association-order-dependent and a 12-dp
  ``round()`` before a decimal cast is ENGINE-DEPENDENT (Spark rounds
  the double's shortest string repr, DuckDB the binary value — see
  catalog.py's money-math caveat).  Instead each per-row contribution
  is quantized with ``floor(x * 1e12)`` — floor acts on the actual
  binary double in BOTH engines, so the resulting integers are
  bit-identical — and accumulated exactly as DECIMAL(38,0).  This is
  the fixed-point trick HPC uses for reproducible parallel reductions
  (deterministic allreduce), applied to gradient accumulation.
- The logistic link is the algebraic fast sigmoid
  ``s = 0.5*(1 + z/(1+|z|))`` — only +,*,/,abs, all IEEE
  correctly-rounded, so per-row scores are bit-identical across
  engines (``exp()`` carries no such guarantee).
- Weight updates are fixed chains of IEEE ops on identical inputs;
  ``round(…, 6)`` is applied only to the handful of OUTPUT rows, as
  everywhere else in the catalog.

Ref tie-in: the reference's UDM pipeline ends at enriched events
(`json2udm_cloud.py`); training the downstream quality/routing models
on those events is exactly the "beyond the reference" LLM-pipeline
surface SURVEY §2B-L calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# ML1: logistic regression via in-plan full-batch gradient descent
# ---------------------------------------------------------------------------

LOGREG_ITERS = 3
LOGREG_LR = 8.0
_Q = 1e12  # gradient quantization scale (fixed-point 1e-12 resolution)

# Feature/label projection — identical textual arithmetic both sides:
# x1 = discount (0..0.1), x2 = quantity/50 (0..1), y = returned flag.
_FEAT_SQL = """
    SELECT CAST(l_discount AS DOUBLE) AS x1,
           CAST(l_quantity AS DOUBLE) / CAST(50.0 AS DOUBLE) AS x2,
           CASE WHEN l_returnflag = 'R' THEN CAST(1.0 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END AS y
    FROM lineitem
"""

_Z_SQL = "w0 + w1 * x1 + w2 * x2"
_S_SQL = (
    f"CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE) + ({_Z_SQL})"
    f" / (CAST(1.0 AS DOUBLE) + abs({_Z_SQL})))"
)
_D_SQL = f"(({_S_SQL}) - y)"


def _qsum_sql(expr: str, alias: str) -> str:
    return (
        f"sum(CAST(floor(({expr}) * CAST({_Q:.1f} AS DOUBLE)) AS DECIMAL(38,0)))"
        f" AS {alias}"
    )


def _logreg_oracle_ctes() -> str:
    """The shared CTE chain: features f, weights it0..itT."""
    ctes = [
        f"f AS ({_FEAT_SQL})",
        (
            "it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0,"
            " CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2)"
        ),
    ]
    for t in range(1, LOGREG_ITERS + 1):
        ctes.append(
            f"g{t} AS (SELECT count(*) AS n, "
            + _qsum_sql(_D_SQL, "s0")
            + ", "
            + _qsum_sql(f"{_D_SQL} * x1", "s1")
            + ", "
            + _qsum_sql(f"{_D_SQL} * x2", "s2")
            + f" FROM f, it{t - 1})"
        )
        upd = ", ".join(
            f"w{j} - CAST({LOGREG_LR:.1f} AS DOUBLE)"
            f" * (CAST(s{j} AS DOUBLE) / CAST({_Q:.1f} AS DOUBLE)"
            f" / CAST(n AS DOUBLE)) AS w{j}"
            for j in range(3)
        )
        ctes.append(f"it{t} AS (SELECT {upd} FROM g{t}, it{t - 1})")
    return "WITH " + ",\n    ".join(ctes)


_LOGREG_ORACLE = f"""
    {_logreg_oracle_ctes()},
    ev AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN (({_Z_SQL}) >= CAST(0.0 AS DOUBLE))
                                = (y = CAST(1.0 AS DOUBLE))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM f, it{LOGREG_ITERS}
    )
    SELECT CAST(ev.n AS BIGINT) AS n,
           round(w0, 6) AS w0, round(w1, 6) AS w1, round(w2, 6) AS w2,
           round(CAST(n_correct AS DOUBLE) / CAST(ev.n AS DOUBLE), 6) AS acc
    FROM ev, it{LOGREG_ITERS}
"""


def _featurize(li: DataFrame) -> DataFrame:
    """The feature/label projection, batch- and stream-applicable."""
    return li.select(
        F.col("l_discount").cast("double").alias("x1"),
        (F.col("l_quantity").cast("double") / F.lit(50.0)).alias("x2"),
        F.when(F.col("l_returnflag") == "R", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _featurize(load_table(spark, sf_dir, "lineitem"))


def _z() -> Column:
    return F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")


def _fast_sigmoid(z: Column) -> Column:
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


def _qsum(expr: Column, alias: str) -> Column:
    return F.sum(F.floor(expr * F.lit(_Q)).cast("decimal(38,0)")).alias(alias)


def _logreg_weights(feats: DataFrame) -> DataFrame:
    """T gradient-descent steps as one lazy plan: per step, ONE wide
    aggregate (partial gradient sums combine map-side — the allreduce
    shape) and a broadcast join carrying the 1-row weight vector."""
    spark = feats.sparkSession
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    for _ in range(LOGREG_ITERS):
        j = feats.crossJoin(F.broadcast(w))
        d = _fast_sigmoid(_z()) - F.col("y")
        g = j.agg(
            F.count("*").alias("n"),
            _qsum(d, "s0"),
            _qsum(d * F.col("x1"), "s1"),
            _qsum(d * F.col("x2"), "s2"),
        ).crossJoin(F.broadcast(w))
        nd = F.col("n").cast("double")
        w = g.select(
            *[
                (
                    F.col(f"w{j_}")
                    - F.lit(LOGREG_LR)
                    * (F.col(f"s{j_}").cast("double") / F.lit(_Q) / nd)
                ).alias(f"w{j_}")
                for j_ in range(3)
            ]
        )
    return w


@query("ml1_logreg_gd", section="ML1", oracle=_LOGREG_ORACLE)
def ml1_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (returned-flag vs discount+quantity)
    trained by 3 full-batch GD steps entirely inside the plan.

    Scale shape: each step is one map-side-combinable aggregate over
    the fact table — the textbook data-parallel allreduce — and the
    weight vector rides between steps as a broadcast 1-row relation,
    so a 1000-executor run has T shuffle-free reduction barriers and
    zero driver round-trips.  At 100 TB you'd ``persist()`` the
    2-column feature projection once; the gate-scale entry re-scans
    the pushed-down (3-column) parquet projection per step instead,
    which keeps the plan stateless.  Gradient sums use fixed-point
    ``floor(x*1e12)`` quantization + exact DECIMAL accumulation — the
    deterministic-allreduce trick — so training is bit-reproducible
    regardless of partitioning (module docstring has the full
    argument)."""
    feats = _logreg_features(spark, sf_dir)
    w = _logreg_weights(feats)
    ev = feats.crossJoin(F.broadcast(w))
    correct = (_z() >= F.lit(0.0)) == (F.col("y") == F.lit(1.0))
    g = ev.agg(
        F.count("*").alias("n"),
        F.sum(F.when(correct, 1).otherwise(0)).cast("bigint").alias("n_correct"),
    ).crossJoin(F.broadcast(w))
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("w0", 6).alias("w0"),
        F.round("w1", 6).alias("w1"),
        F.round("w2", 6).alias("w2"),
        F.round(F.col("n_correct").cast("double") / F.col("n").cast("double"), 6).alias(
            "acc"
        ),
    )


# ---------------------------------------------------------------------------
# ML2: multinomial Naive Bayes trained in one pass
# ---------------------------------------------------------------------------

NB_TOP_K = 10

_NB_ORACLE = f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    cw AS (SELECT lang, word, count(*) AS c FROM toks GROUP BY lang, word),
    ct AS (SELECT lang, count(*) AS tw FROM toks GROUP BY lang),
    v AS (SELECT count(DISTINCT word) AS vsz FROM toks),
    pri AS (
      SELECT lang, count(*) AS nd FROM documents GROUP BY lang
    ),
    tot AS (SELECT count(*) AS ndocs FROM documents),
    ranked AS (
      SELECT cw.lang, cw.word, cw.c, ct.tw, v.vsz,
             row_number() OVER (PARTITION BY cw.lang
                                ORDER BY cw.c DESC, cw.word) AS rank
      FROM cw JOIN ct ON cw.lang = ct.lang, v
    )
    SELECT r.lang, r.word, CAST(r.rank AS INTEGER) AS rank,
           round(CAST(r.c + 1 AS DOUBLE) / CAST(r.tw + r.vsz AS DOUBLE), 6)
             AS prob,
           round(CAST(pri.nd AS DOUBLE) / CAST(tot.ndocs AS DOUBLE), 6) AS prior
    FROM ranked r JOIN pri ON r.lang = pri.lang, tot
    WHERE r.rank <= {NB_TOP_K}
"""


@query("ml2_naive_bayes", section="ML2", oracle=_NB_ORACLE)
def ml2_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trainer: per-class priors + the top-10
    Laplace-smoothed word likelihoods per language.

    Scale shape: ONE shuffle on (lang, word) with map-side partial
    counts (the explode fans out inside the map stage); class token
    totals, the vocabulary size, and doc priors are tiny aggregates
    joined back by broadcast — so the trainer's cost is a single
    word-count pass no matter the corpus size.  Probabilities are
    plain IEEE divisions of exact counts (correctly rounded, so
    engine-identical); ranking ties break on the word itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
    cw = toks.groupBy("lang", "word").agg(F.count("*").alias("c"))
    ct = toks.groupBy("lang").agg(F.count("*").alias("tw"))
    v = toks.agg(F.countDistinct("word").alias("vsz"))
    pri = d.groupBy("lang").agg(F.count("*").alias("nd"))
    tot = d.agg(F.count("*").alias("ndocs"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("word"))
    ranked = (
        cw.join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(v))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NB_TOP_K)
    )
    return (
        ranked.join(F.broadcast(pri), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "word",
            F.col("rank").cast("int").alias("rank"),
            F.round(
                (F.col("c") + 1).cast("double") / (F.col("tw") + F.col("vsz")).cast("double"),
                6,
            ).alias("prob"),
            F.round(F.col("nd").cast("double") / F.col("ndocs").cast("double"), 6).alias(
                "prior"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ML2b: Naive Bayes APPLY — classify every document with the trained model
# ---------------------------------------------------------------------------

NB_MODEL_K = 50  # selected features (top words) per class

_NB_CLASSIFY_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    cw AS (
      SELECT lang, word, count(*) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY lang, word
    ),
    ct AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS tw FROM cw GROUP BY lang
    ),
    v AS (SELECT count(DISTINCT word) AS vsz FROM cw),
    model AS (
      SELECT lang, word,
             round(ln(CAST(c + 1 AS DOUBLE) / CAST(tw + vsz AS DOUBLE)), 9)
               AS logp
      FROM (
        SELECT cw.lang, cw.word, cw.c, ct.tw, v.vsz,
               row_number() OVER (PARTITION BY cw.lang
                                  ORDER BY cw.c DESC, cw.word) AS rnk
        FROM cw JOIN ct ON cw.lang = ct.lang, v
      ) WHERE rnk <= {NB_MODEL_K}
    ),
    pri AS (
      SELECT lang,
             round(ln(CAST(nd AS DOUBLE) / CAST(ndocs AS DOUBLE)), 9) AS logprior
      FROM (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
           (SELECT count(*) AS ndocs FROM documents)
    ),
    scores AS (
      SELECT t.doc_id, any_value(t.true_lang) AS true_lang, m.lang,
             CAST(sum(CAST(m.logp AS DECIMAL(20,9))) AS DOUBLE)
               + any_value(p.logprior) AS score
      FROM toks t JOIN model m ON t.word = m.word
                  JOIN pri p ON m.lang = p.lang
      GROUP BY t.doc_id, m.lang
    ),
    ranked AS (
      SELECT doc_id, true_lang, lang AS pred_lang, round(score, 6) AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rnk
      FROM scores
    )
    SELECT doc_id, true_lang, pred_lang, score,
           CAST(pred_lang = true_lang AS BIGINT) AS correct
    FROM ranked WHERE rnk = 1
"""


@query("ml2b_nb_classify", section="ML2", oracle=_NB_CLASSIFY_ORACLE)
def ml2b_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes APPLY: classify every document with the trained
    per-class model (top-50 selected word features + class priors) —
    the serving half of ml2's trainer.

    Scale shape: the model is (classes × 50) rows and BROADCASTS onto
    the exploded token stream; scoring is one grouped aggregate on
    (doc_id, class) and the argmax is a per-doc window — so
    classifying a 100 TB corpus costs one token pass, one doc-keyed
    shuffle, no per-row Python.  Per-feature log-likelihoods are
    quantized to 9 dp right after the `ln` (JVM vs libm last-ulp — the
    surprisal discipline) and summed as exact DECIMAL, so scores and
    the argmax are engine-identical; ranking ties break on the class
    name."""
    from chronicle_sniffer_spark.tables import spread

    d = load_table(spark, sf_dir, "documents")
    # spread before the token fan-outs: the scoring join + decimal
    # sums are map-side and would otherwise run in the single-file
    # scan's one task (round-6 soak: 6x wall for 10x data; 1.0x after)
    slim = spread(d.select("doc_id", "lang", "text"))
    toks = slim.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    cw = (
        slim.select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("c"))
    )
    ct = cw.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tw"))
    v = cw.agg(F.countDistinct("word").alias("vsz"))
    rnk_w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("word"))
    model = (
        cw.join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(v))
        .withColumn("rnk", F.row_number().over(rnk_w))
        .filter(F.col("rnk") <= NB_MODEL_K)
        .select(
            "lang",
            "word",
            F.round(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tw") + F.col("vsz")).cast("double")
                ),
                9,
            ).alias("logp"),
        )
    )
    pri = (
        d.groupBy("lang")
        .agg(F.count("*").alias("nd"))
        .crossJoin(F.broadcast(d.agg(F.count("*").alias("ndocs"))))
        .select(
            "lang",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("ndocs").cast("double")), 9
            ).alias("logprior"),
        )
    )
    # collapse duplicate (doc, word) tokens BEFORE probing the model:
    # quantized-decimal logp × integer count sums to the EXACT same
    # value as per-occurrence addition, and the broadcast-join probe
    # count drops from |tokens| to |distinct (doc, word)| (the 40-word
    # synthetic vocabulary repeats heavily; real corpora too, Zipf)
    doc_words = toks.groupBy("doc_id", "word").agg(
        F.any_value("true_lang").alias("true_lang"),
        F.count("*").alias("cnt"),
    )
    scores = (
        doc_words.join(F.broadcast(model), "word")
        .join(F.broadcast(pri), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.any_value("true_lang").alias("true_lang"),
            (
                # cnt must be a NARROW decimal: decimal(20,9) x bigint
                # would need precision 41 > 38 and Spark silently
                # demotes the product to decimal(38,6) (6-dp rounding
                # per product, r6 driver hash mismatch).  decimal(20,9)
                # x decimal(10,0) -> decimal(31,9): exact.
                F.sum(
                    F.col("logp").cast("decimal(20,9)")
                    * F.col("cnt").cast("decimal(10,0)")
                ).cast("double")
                + F.any_value("logprior")
            ).alias("score"),
        )
    )
    doc_w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang"))
    return (
        scores.withColumn("rnk", F.row_number().over(doc_w))
        .filter(F.col("rnk") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            F.round("score", 6).alias("score"),
            (F.col("lang") == F.col("true_lang")).cast("bigint").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# ML3: threshold-sweep evaluation of the ML1 model
# ---------------------------------------------------------------------------

_EVAL_ORACLE = f"""
    {_logreg_oracle_ctes()},
    thr AS (
      SELECT CAST(g AS DOUBLE) / CAST(100.0 AS DOUBLE) AS thr
      FROM generate_series(30, 70, 5) t(g)
    ),
    scored AS (
      SELECT ({_S_SQL}) AS s, y FROM f, it{LOGREG_ITERS}
    ),
    conf AS (
      SELECT thr.thr,
             CAST(sum(CASE WHEN s >= thr.thr AND y = CAST(1.0 AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s >= thr.thr AND y = CAST(0.0 AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s < thr.thr AND y = CAST(1.0 AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN s < thr.thr AND y = CAST(0.0 AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored, thr GROUP BY thr.thr
    )
    SELECT thr, tp, fp, fn, tn,
           round(CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6)
             AS precision,
           round(CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END, 6)
             AS recall,
           round(CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(2 * tp AS DOUBLE)
                           / CAST(2 * tp + fp + fn AS DOUBLE) END, 6) AS f1
    FROM conf
"""


@query("ml3_eval_confusion", section="ML3", oracle=_EVAL_ORACLE)
def ml3_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the ML1 model: confusion counts
    and precision/recall/F1 at 9 thresholds (0.30..0.70).

    Scale shape: the trained weights broadcast onto the corpus, the
    9-row threshold grid broadcasts onto the scored rows (a bounded
    9× map-side fan-out), and the sweep reduces to one grouped
    aggregate — evaluating all operating points costs a single pass,
    not one scan per threshold.  F1 is computed in the integer domain
    (2·tp/(2·tp+fp+fn)) so only the final division touches floats."""
    feats = _logreg_features(spark, sf_dir)
    w = _logreg_weights(feats)
    scored = feats.crossJoin(F.broadcast(w)).select(
        _fast_sigmoid(_z()).alias("s"), "y"
    )
    thr = spark.range(30, 71, 5).select(
        (F.col("id").cast("double") / F.lit(100.0)).alias("thr")
    )
    pos = F.col("y") == F.lit(1.0)
    hit = F.col("s") >= F.col("thr")
    conf = (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit & pos, 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(hit & ~pos, 1).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when(~hit & pos, 1).otherwise(0)).cast("bigint").alias("fn"),
            F.sum(F.when(~hit & ~pos, 1).otherwise(0)).cast("bigint").alias("tn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    safe = lambda num, den: F.round(  # noqa: E731
        F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        ),
        6,
    )
    return conf.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        safe(tp, tp + fp).alias("precision"),
        safe(tp, tp + fn).alias("recall"),
        safe(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
    )


# ---------------------------------------------------------------------------
# ML4: in-plan distributed k-means (Lloyd iterations, no shuffle-by-key)
# ---------------------------------------------------------------------------

KMEANS_K = 3
KMEANS_ITERS = 2
_KM_INIT = ((0.2, 0.2), (0.5, 0.5), (0.8, 0.8))

# 2-d feature space, both coordinates scaled to [0, 1]:
_KM_FEAT_SQL = """
    SELECT CAST(l_discount AS DOUBLE) * CAST(10.0 AS DOUBLE) AS x1,
           CAST(l_quantity AS DOUBLE) / CAST(50.0 AS DOUBLE) AS x2
    FROM lineitem
"""


def _km_dist_sql(k: int) -> str:
    return (
        f"((x1 - c{k}x) * (x1 - c{k}x) + (x2 - c{k}y) * (x2 - c{k}y))"
    )


def _km_cluster_sql() -> str:
    d1, d2, d3 = (_km_dist_sql(k) for k in (1, 2, 3))
    return (
        f"CASE WHEN {d1} <= {d2} AND {d1} <= {d3} THEN 1"
        f" WHEN {d2} <= {d3} THEN 2 ELSE 3 END"
    )


def _km_dmin_sql() -> str:
    d1, d2, d3 = (_km_dist_sql(k) for k in (1, 2, 3))
    return f"least({d1}, {d2}, {d3})"


def _km_oracle() -> str:
    init_cols = ", ".join(
        f"CAST({cx} AS DOUBLE) AS c{k + 1}x, CAST({cy} AS DOUBLE) AS c{k + 1}y"
        for k, (cx, cy) in enumerate(_KM_INIT)
    )
    ctes = [f"f AS ({_KM_FEAT_SQL})", f"it0 AS (SELECT {init_cols})"]
    for t in range(1, KMEANS_ITERS + 1):
        cl = _km_cluster_sql()
        sums = []
        for k in (1, 2, 3):
            sums.append(
                f"CAST(sum(CASE WHEN ({cl}) = {k} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n{k}"
            )
            for j, x in ((1, "x1"), (2, "x2")):
                sums.append(
                    f"sum(CASE WHEN ({cl}) = {k} THEN"
                    f" CAST(floor({x} * CAST({_Q:.1f} AS DOUBLE)) AS DECIMAL(38,0))"
                    f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS s{k}_{j}"
                )
        ctes.append(f"g{t} AS (SELECT {', '.join(sums)} FROM f, it{t - 1})")
        upd = []
        for k in (1, 2, 3):
            for j, axis in ((1, "x"), (2, "y")):
                new = (
                    f"CAST(s{k}_{j} AS DOUBLE) / CAST({_Q:.1f} AS DOUBLE)"
                    f" / CAST(n{k} AS DOUBLE)"
                )
                upd.append(
                    f"CASE WHEN n{k} = 0 THEN c{k}{axis} ELSE {new} END"
                    f" AS c{k}{axis}"
                )
        ctes.append(f"it{t} AS (SELECT {', '.join(upd)} FROM g{t}, it{t - 1})")
    cl = _km_cluster_sql()
    dmin = _km_dmin_sql()
    stats = []
    for k in (1, 2, 3):
        stats.append(
            f"CAST(sum(CASE WHEN ({cl}) = {k} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n{k}"
        )
        stats.append(
            f"sum(CASE WHEN ({cl}) = {k} THEN"
            f" CAST(floor({dmin} * CAST({_Q:.1f} AS DOUBLE)) AS DECIMAL(38,0))"
            f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS w{k}"
        )
    ev = (
        f"ev AS (SELECT {', '.join(stats)}"
        f" FROM f, it{KMEANS_ITERS})"
    )
    outs = "\n    UNION ALL ".join(
        f"SELECT {k} AS cluster, n{k} AS n, round(c{k}x, 6) AS cx,"
        f" round(c{k}y, 6) AS cy,"
        f" round(CAST(w{k} AS DOUBLE) / CAST({_Q:.1f} AS DOUBLE), 6) AS wcss"
        f" FROM ev, it{KMEANS_ITERS}"
        for k in (1, 2, 3)
    )
    return "WITH " + ",\n    ".join(ctes + [ev]) + "\n    " + outs


def _km_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_discount").cast("double") * F.lit(10.0)).alias("x1"),
        (F.col("l_quantity").cast("double") / F.lit(50.0)).alias("x2"),
    )


def _km_dist(k: int) -> Column:
    dx = F.col("x1") - F.col(f"c{k}x")
    dy = F.col("x2") - F.col(f"c{k}y")
    return dx * dx + dy * dy


def _km_cluster() -> Column:
    d1, d2, d3 = (_km_dist(k) for k in (1, 2, 3))
    return (
        F.when((d1 <= d2) & (d1 <= d3), 1).when(d2 <= d3, 2).otherwise(3)
    )


def _km_qsum(cond: Column, expr: Column, alias: str) -> Column:
    q = F.floor(expr * F.lit(_Q)).cast("decimal(38,0)")
    return F.sum(F.when(cond, q).otherwise(F.lit(0).cast("decimal(38,0)"))).alias(
        alias
    )


def _km_centroids(feats: DataFrame) -> DataFrame:
    spark = feats.sparkSession
    cent = spark.range(1).select(
        *[
            c
            for k, (cx, cy) in enumerate(_KM_INIT)
            for c in (
                F.lit(float(cx)).alias(f"c{k + 1}x"),
                F.lit(float(cy)).alias(f"c{k + 1}y"),
            )
        ]
    )
    for _ in range(KMEANS_ITERS):
        j = feats.crossJoin(F.broadcast(cent))
        cl = _km_cluster()
        aggs = []
        for k in (1, 2, 3):
            aggs.append(
                F.sum(F.when(cl == k, 1).otherwise(0)).cast("bigint").alias(f"n{k}")
            )
            aggs.append(_km_qsum(cl == k, F.col("x1"), f"s{k}_1"))
            aggs.append(_km_qsum(cl == k, F.col("x2"), f"s{k}_2"))
        g = j.agg(*aggs).crossJoin(F.broadcast(cent))
        upd = []
        for k in (1, 2, 3):
            for jj, axis in ((1, "x"), (2, "y")):
                new = (
                    F.col(f"s{k}_{jj}").cast("double")
                    / F.lit(_Q)
                    / F.col(f"n{k}").cast("double")
                )
                upd.append(
                    F.when(F.col(f"n{k}") == 0, F.col(f"c{k}{axis}"))
                    .otherwise(new)
                    .alias(f"c{k}{axis}")
                )
        # materialize the 1-row centroid frame NOW: every downstream
        # broadcast of a lazy `cent` re-executed the whole Lloyd
        # subtree (21 lineitem scans in one ml4 physical plan,
        # measured) — the checkpoint makes each iteration exactly one
        # wide-aggregate job and later broadcasts read a 1-row RDD
        cent = g.select(*upd).localCheckpoint(eager=True)
    return cent


@query("ml4_kmeans", section="ML4", oracle=_km_oracle())
def ml4_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (K=3, 2 Lloyd iterations) over the scaled
    (discount, quantity) plane, entirely in-plan.

    Scale shape: each Lloyd step is ONE wide aggregate — cluster
    assignment happens inside the map stage (a CASE over K broadcast
    centroids) and the per-cluster sums are CONDITIONAL columns of the
    same aggregate, so there is no shuffle-by-key at all: K×(d+1)
    partial sums combine map-side exactly like the logreg gradient.
    Centroid means use the same floor(x·1e12)+DECIMAL fixed-point
    accumulation, so the trained centroids are bit-identical under any
    partitioning and the DuckDB oracle replays the full iteration
    chain from the literal init (ties in the argmin break toward the
    lower cluster id in both engines; empty clusters keep their
    previous centroid).  Output: per-cluster size, centroid, and
    quantized within-cluster sum of squares."""
    feats = _km_features(spark, sf_dir)
    cent = _km_centroids(feats)
    j = feats.crossJoin(F.broadcast(cent))
    cl = _km_cluster()
    dmin = F.least(*[_km_dist(k) for k in (1, 2, 3)])
    aggs = []
    for k in (1, 2, 3):
        aggs.append(
            F.sum(F.when(cl == k, 1).otherwise(0)).cast("bigint").alias(f"n{k}")
        )
        aggs.append(_km_qsum(cl == k, dmin, f"w{k}"))
    ev = j.agg(*aggs).crossJoin(F.broadcast(cent))
    # one row per cluster via stack() over the single 1-row eval frame
    # — the 3-branch union re-executed the eval aggregate (and the
    # whole centroid chain under it) once per cluster
    ev = ev.select(
        *[
            c
            for k in (1, 2, 3)
            for c in (
                F.col(f"n{k}").alias(f"on{k}"),
                F.round(f"c{k}x", 6).alias(f"ocx{k}"),
                F.round(f"c{k}y", 6).alias(f"ocy{k}"),
                F.round(F.col(f"w{k}").cast("double") / F.lit(_Q), 6).alias(
                    f"ow{k}"
                ),
            )
        ]
    )
    stack_args = ", ".join(
        f"{k}, on{k}, ocx{k}, ocy{k}, ow{k}" for k in (1, 2, 3)
    )
    return ev.selectExpr(
        f"stack(3, {stack_args}) AS (cluster, n, cx, cy, wcss)"
    )


# ---------------------------------------------------------------------------
# ML5: gradient-boosted stumps via the histogram method
# ---------------------------------------------------------------------------

GBT_ROUNDS = 2
GBT_LR = 0.5
_GBT_BIN_W = 5.0  # l_quantity in 1..50 -> 10 bins, 9 candidate splits
_QR = 1e6  # residual quantization scale (price-scale values)

# Target with PLANTED structure (y = 1000x + price/100): the synthetic
# lineitem draws price independently of quantity, so a natural target
# would leave a stump nothing to learn and the fitted model would not
# demonstrate the split search.  With the planted slope, round 1 must
# split mid-range with well-separated leaves and round 2 must refine —
# making the oracle-verified model WRONG if the gain ranking, prefix
# sums, or residual chain are off by anything.
_GBT_FEAT_SQL = """
    SELECT CAST(l_quantity AS DOUBLE) AS x,
           CAST(l_quantity AS DOUBLE) * CAST(1000.0 AS DOUBLE)
             + CAST(l_extendedprice AS DOUBLE) / CAST(100.0 AS DOUBLE) AS y
    FROM lineitem
"""


def _gbt_pred_sql(upto: int) -> str:
    """Ensemble prediction from rounds 1..upto (0 -> constant 0)."""
    terms = [
        f"CAST({GBT_LR} AS DOUBLE) * (CASE WHEN x <= thr{t} THEN mul{t}"
        f" ELSE mur{t} END)"
        for t in range(1, upto + 1)
    ]
    return " + ".join(terms) if terms else "CAST(0.0 AS DOUBLE)"


def _gbt_oracle() -> str:
    ctes = [f"f AS ({_GBT_FEAT_SQL})"]
    prev = None  # name of the model CTE so far
    for t in range(1, GBT_ROUNDS + 1):
        r = f"(y - ({_gbt_pred_sql(t - 1)}))"
        src = "f" if prev is None else f"f, {prev}"
        ctes.append(
            f"b{t} AS (SELECT CAST(ceil(x / CAST({_GBT_BIN_W} AS DOUBLE)) AS INT)"
            f" AS bin, count(*) AS n,"
            f" sum(CAST(floor({r} * CAST({_QR:.1f} AS DOUBLE)) AS DECIMAL(38,0)))"
            f" AS s FROM {src} GROUP BY 1)"
        )
        ctes.append(
            f"tot{t} AS (SELECT sum(n) AS nt, sum(s) AS st FROM b{t})"
        )
        ctes.append(
            f"c{t} AS (SELECT bin,"
            f" sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS nl,"
            f" sum(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS sl,"
            f" nt, st FROM b{t}, tot{t})"
        )
        ctes.append(
            f"g{t} AS (SELECT bin, nl, nt - nl AS nr,"
            f" CAST(sl AS DOUBLE) / CAST({_QR:.1f} AS DOUBLE) AS sld,"
            f" CAST(st - sl AS DOUBLE) / CAST({_QR:.1f} AS DOUBLE) AS srd"
            f" FROM c{t} WHERE nt - nl > 0)"
        )
        best_cols = (
            f"CAST({_GBT_BIN_W} AS DOUBLE) * bin AS thr{t},"
            f" sld / CAST(nl AS DOUBLE) AS mul{t},"
            f" srd / CAST(nr AS DOUBLE) AS mur{t}"
        )
        order = (
            "ORDER BY sld * sld / CAST(nl AS DOUBLE)"
            " + srd * srd / CAST(nr AS DOUBLE) DESC, bin LIMIT 1"
        )
        if prev is None:
            ctes.append(f"m{t} AS (SELECT {best_cols} FROM g{t} {order})")
        else:
            ctes.append(
                f"m{t} AS (SELECT {prev}.*, {best_cols} FROM g{t}, {prev} {order})"
            )
        prev = f"m{t}"
    outs = "\n    UNION ALL ".join(
        f"SELECT {t} AS round, thr{t} AS threshold,"
        f" round(mul{t}, 6) AS leaf_left, round(mur{t}, 6) AS leaf_right"
        f" FROM {prev}"
        for t in range(1, GBT_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + outs


def _gbt_pred(upto: int) -> Column:
    out = F.lit(0.0)
    for t in range(1, upto + 1):
        leaf = F.when(F.col("x") <= F.col(f"thr{t}"), F.col(f"mul{t}")).otherwise(
            F.col(f"mur{t}")
        )
        term = F.lit(GBT_LR) * leaf
        out = term if t == 1 else out + term
    return out


@query("ml5_gbt_stumps", section="ML5", oracle=_gbt_oracle())
def ml5_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted depth-1 trees (squared loss, 2 rounds) trained
    by the HISTOGRAM method — the XGBoost/LightGBM trick, expressed as
    plain relational algebra.

    Per round: residuals bin into 10 fixed-width feature bins with ONE
    grouped aggregate (map-side partial sums — the only thing that
    touches the fact table), prefix sums over the 10-row bin relation
    turn every bin boundary into a candidate split, and the best split
    is an ORDER BY gain LIMIT 1 over ≤9 rows.  The fitted stump joins
    back as a broadcast 1-row relation for the next round's residuals
    — so a T-round boosted model costs T scans and T 10-row shuffles,
    independent of data size.  Residual sums are fixed-point quantized
    (floor·1e6 + DECIMAL) like the GD gradients, so the trained model
    is bit-reproducible and the DuckDB oracle replays both rounds'
    split search exactly (gain ties break toward the lower bin)."""
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (
            F.col("l_quantity").cast("double") * F.lit(1000.0)
            + F.col("l_extendedprice").cast("double") / F.lit(100.0)
        ).alias("y"),
    )
    model = None  # 1-row DataFrame accumulating thr{t}/mul{t}/mur{t}
    for t in range(1, GBT_ROUNDS + 1):
        j = feats if model is None else feats.crossJoin(F.broadcast(model))
        r = F.col("y") - _gbt_pred(t - 1)
        b = j.groupBy(
            F.ceil(F.col("x") / F.lit(_GBT_BIN_W)).cast("int").alias("bin")
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.floor(r * F.lit(_QR)).cast("decimal(38,0)")).alias("s"),
        )
        tot = b.agg(F.sum("n").alias("nt"), F.sum("s").alias("st"))
        w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        c = b.crossJoin(F.broadcast(tot)).select(
            "bin",
            F.sum("n").over(w).alias("nl"),
            F.sum("s").over(w).alias("sl"),
            "nt",
            "st",
        )
        g = c.filter(F.col("nt") - F.col("nl") > 0).select(
            "bin",
            "nl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("sl").cast("double") / F.lit(_QR)).alias("sld"),
            ((F.col("st") - F.col("sl")).cast("double") / F.lit(_QR)).alias("srd"),
        )
        gain = F.col("sld") * F.col("sld") / F.col("nl").cast("double") + F.col(
            "srd"
        ) * F.col("srd") / F.col("nr").cast("double")
        best = g.orderBy(gain.desc(), F.col("bin")).limit(1)
        new_cols = [
            (F.lit(_GBT_BIN_W) * F.col("bin")).alias(f"thr{t}"),
            (F.col("sld") / F.col("nl").cast("double")).alias(f"mul{t}"),
            (F.col("srd") / F.col("nr").cast("double")).alias(f"mur{t}"),
        ]
        if model is None:
            model = best.select(*new_cols)
        else:
            model = best.crossJoin(F.broadcast(model)).select(
                *[F.col(c_) for c_ in model.columns], *new_cols
            )
        # materialize the 1-row model per round (ml4 policy): the lazy
        # frame re-executes the whole boosting chain at every later
        # broadcast reference — BroadcastNestedLoopJoin subtrees are
        # NOT deduped by AQE exchange reuse — so the T-round plan held
        # 8 lineitem scans where the histogram method costs exactly T
        model = model.localCheckpoint(eager=True)
    outs = [
        model.select(
            F.lit(t).alias("round"),
            F.col(f"thr{t}").alias("threshold"),
            F.round(f"mul{t}", 6).alias("leaf_left"),
            F.round(f"mur{t}", 6).alias("leaf_right"),
        )
        for t in range(1, GBT_ROUNDS + 1)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# DQ3: differentially-private noisy-count release (Laplace mechanism)
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0
_U_SCALE = float(1 << 52)  # 13 md5 hex chars = 52 uniform bits

_DP_ORACLE = f"""
    WITH g AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_true
      FROM orders GROUP BY o_orderpriority
    ),
    u AS (
      SELECT o_orderpriority, n_true,
             CAST(('0x' || substr(md5(o_orderpriority), 1, 13))::BIGINT AS DOUBLE)
               / CAST({_U_SCALE:.1f} AS DOUBLE) AS u
      FROM g
    ),
    noisy AS (
      SELECT o_orderpriority, n_true,
             -(CAST(1.0 AS DOUBLE) / CAST({DP_EPSILON:.1f} AS DOUBLE))
               * sign(u - CAST(0.5 AS DOUBLE))
               * round(ln(greatest(CAST(1.0 AS DOUBLE)
                                   - CAST(2.0 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE)),
                                   CAST(1e-15 AS DOUBLE))), 9) AS noise
      FROM u
    )
    SELECT o_orderpriority, n_true, round(noise, 6) AS noise,
           round(CAST(n_true AS DOUBLE) + noise, 6) AS n_released
    FROM noisy
"""


@query("dq3_dp_release", section="DQ3", oracle=_DP_ORACLE)
def dq3_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy-count release over order priorities —
    the privacy-preserving aggregate a training-data pipeline
    publishes instead of exact per-segment counts (count sensitivity
    1, ε=1).

    Mechanism: per-group uniform u from 52 md5 bits of the group key,
    inverse-CDF Laplace noise −(1/ε)·sgn(u−½)·ln(1−2|u−½|) added to
    the exact count.  The `ln` is quantized at 9 dp per the surprisal
    discipline (libm vs JVM last-ulp), and the hash seed is PUBLIC so
    the DuckDB oracle can replay the release bit-for-bit — production
    would swap in a keyed hash (same plan shape) since a public seed
    carries no privacy.  Scale shape: noise is a scalar expression on
    the already-aggregated (tiny) group relation — the release adds
    zero distributed work to the underlying count."""
    g = load_table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    u = (
        F.conv(F.substring(F.md5("o_orderpriority"), 1, 13), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(_U_SCALE)
    )
    noise = (
        -(F.lit(1.0) / F.lit(DP_EPSILON))
        * F.signum(u - F.lit(0.5))
        * F.round(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)),
                    F.lit(1e-15),
                )
            ),
            9,
        )
    )
    return g.select(
        "o_orderpriority",
        "n_true",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n_true").cast("double") + noise, 6).alias("n_released"),
    )
