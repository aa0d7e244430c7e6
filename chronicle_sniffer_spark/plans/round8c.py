"""Round-8 catalog additions, third wave.

Three more operators whose value is the distributed plan shape:

- **J15 dynamic partition pruning**: the fact side is STORED
  partitioned on the join key (a year column), the dim side carries a
  selective filter on a NON-key attribute — so the partitions to scan
  are only knowable at RUNTIME, after the dim filter executes.  Spark
  injects a ``dynamicpruningexpression`` into the fact scan's
  PartitionFilters (reusing the join's broadcast as the IN-list), so
  the fact table reads only the matching partition directories.  At
  100 TB this is the difference between scanning the whole fact table
  and scanning the 3 of 7 years the dim actually selected — the same
  runtime-filter machinery as Trino's dynamic filtering.
- **P18 SQL pipe syntax**: the full operator chain written in Spark
  4's pipe syntax (``FROM t |> WHERE |> EXTEND |> AGGREGATE … GROUP BY
  |> WHERE |> ORDER BY |> LIMIT``) — each ``|>`` stage lowers onto the
  same Catalyst operators as classic SQL (the oracle is the classic
  spelling; equality proves the lowering).
- **O12 threshold-pruned exact top-k**: exact per-group top-k where
  the heavy shuffle is pruned by a mergeable sketch.  A
  ``percentile_approx`` pass (map-side-combinable partial sketches —
  the ONLY full-data shuffle is sketch-sized) yields a per-group
  threshold; only rows above it enter the ranking window.  Soundness:
  if a group keeps >= k survivors, its true top-k all sit above the
  threshold, so pruning is lossless; groups that under-prune (the
  sketch cut too deep) fall back to ranking their FULL rows via an
  anti-join split — declaratively, in the same plan.  The oracle is
  the plain global window; equality proves exactness either way.

Fourth wave, same file:

- **J16 merge-on-read**: immutable base files + positional
  ((file_path, row_index) via the parquet ``_metadata`` column) and
  equality delete files, applied at read time with broadcast
  anti-joins — the Iceberg v2 / Delta deletion-vector read path.
- **L6 temperature mix**: UniMax/mT5-style p^alpha language quotas
  with largest-remainder rounding and a deterministic md5-ordered
  per-language take.
- **ML7 calibration curve**: reliability diagram with a rational
  squashing function so every score is a correctly-rounded IEEE
  value on both engines (no library-dependent exp()).

House determinism rules (plans/catalog.py) apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import dsum, o_dsum, query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# J15: dynamic partition pruning
# ---------------------------------------------------------------------------


def dpp_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders partitioned by o_year (fact) plus a per-year dim
    table whose ``tier`` label is data, not a derivable expression —
    so a tier filter can only prune fact partitions at runtime.
    Written once per session: the layout is a property of the stored
    table."""

    def build() -> tuple[str, str]:
        d = session_tmpdir("css_dpp_")
        fact = os.path.join(d, "orders")
        dim = os.path.join(d, "years")
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(fact)
        )
        (
            orders.groupBy(F.year("o_orderdate").alias("yr"))
            .agg(F.count("*").alias("n_orders"))
            .withColumn(
                "tier",
                F.when(F.col("yr") % 2 == 0, F.lit("even")).otherwise(
                    F.lit("odd")
                ),
            )
            .write.mode("overwrite")
            .parquet(dim)
        )
        return fact, dim

    return session_memo(spark, ("j15_dpp", os.path.abspath(sf_dir)), build)


_J15_ORACLE = f"""
WITH pick AS (
  SELECT year(o_orderdate) AS yr FROM orders
  GROUP BY 1 HAVING yr % 2 = 0
)
SELECT CAST(f.yr AS INT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("f.o_totalprice", "sum_price")}
FROM (SELECT year(o_orderdate) AS yr, o_totalprice FROM orders) f
JOIN pick ON f.yr = pick.yr
GROUP BY 1
"""


@query("j15_dynamic_partition_pruning", section="J1", oracle=_J15_ORACLE)
def j15_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join where the fact partitions to read are decided at
    RUNTIME by the dim filter (dynamic partition pruning).

    The fact table is stored partitioned by ``o_year``; the dim filter
    is on ``tier`` — a stored label the optimizer cannot rewrite into a
    static partition predicate (had the filter been on the join key
    itself, constraint propagation would fold it statically and prove
    nothing).  Spark plans the join as a broadcast hash join and REUSES
    the broadcasted dim as a ``dynamicpruningexpression`` IN-filter on
    the fact scan's PartitionFilters — asserted in
    tests/test_round8c.py — so only the selected year directories are
    listed and read.  At 100 TB, partition elimination at the directory
    level is the first and cheapest filter in the whole plan; this is
    the Spark-native equivalent of Trino/Hive dynamic filtering, and it
    composes with the manifest pruning of s13 (stats inside a
    partition) one level down.
    """
    fact_dir, dim_dir = dpp_layout(spark, sf_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("tier") == "even")
    return (
        fact.join(dim, fact.o_year == dim.yr)
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# P18: SQL pipe syntax
# ---------------------------------------------------------------------------

_P18_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag
HAVING count(*) > 100
ORDER BY l_returnflag
LIMIT 10
"""


@query("p18_pipe_syntax", section="P1", oracle=_P18_ORACLE)
def p18_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax: the same logical chain as classic
    SELECT/WHERE/GROUP BY/HAVING/ORDER BY/LIMIT, written as sequential
    ``|>`` stages.  Each stage lowers onto the identical Catalyst
    operator (the post-AGGREGATE ``|> WHERE`` is HAVING; ``|> EXTEND``
    is a projection) — the classic-SQL oracle matching bit-for-bit
    proves the lowering, and the physical plan is byte-identical to the
    classic spelling, so every pushdown/pruning property is preserved.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
FROM lineitem
|> WHERE l_quantity > 10
|> EXTEND CAST(l_extendedprice AS DECIMAL(18,4)) AS pd
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_items,
             CAST(SUM(pd) AS DOUBLE) AS sum_price
   GROUP BY l_returnflag
|> WHERE n_items > 100
|> ORDER BY l_returnflag
|> LIMIT 10
"""
    )


# ---------------------------------------------------------------------------
# O12: threshold-pruned exact top-k
# ---------------------------------------------------------------------------

_O12_K = 5
_O12_P = 0.99  # approx-quantile cut: keep ~top 1% as ranking candidates

_O12_ORACLE = f"""
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
  FROM events
)
SELECT event_type, CAST(rk AS INT) AS rk, event_id, value
FROM r WHERE rk <= {_O12_K}
"""


@query("o12_threshold_topk", section="O4", oracle=_O12_ORACLE)
def o12_threshold_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group top-k with the ranking shuffle pruned by a
    mergeable quantile sketch.

    The naive plan shuffles EVERY row into the per-group ranking
    window.  Here the only full-data pass is ``percentile_approx`` —
    whose partial state is a fixed-size sketch, merged map-side, so the
    shuffle is sketch-sized, not data-sized.  Rows below the per-group
    ~p99 threshold are dropped before the window; if the true top-k
    all sit above the threshold (guaranteed whenever a group keeps
    >= k survivors), pruning is lossless.  Groups where the sketch cut
    too deep (< k survivors — the smoke-sf case) fall back to ranking
    their FULL rows, selected declaratively with a broadcast anti-join
    split, in the same plan: correctness never depends on the sketch's
    accuracy, only the pruning RATE does.  The oracle ranks everything
    the classic way; equality proves exactness on both code paths.

    Scale shape: at 100 TB the window input shrinks ~100x (p99) while
    staying exact; thresholds/ok-lists are group-cardinality-sized and
    broadcast.  The same skeleton serves any "exact extremes at scale"
    need (top-k, exact percentile tails, trimmed means).
    """
    K = _O12_K
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    thr = ev.groupBy("event_type").agg(
        F.percentile_approx("value", _O12_P, 10000).alias("thr")
    )
    surv = ev.join(F.broadcast(thr), "event_type").filter(
        F.col("value") >= F.col("thr")
    )
    ok = (
        surv.groupBy("event_type")
        .agg(F.count("*").alias("n_surv"))
        .filter(F.col("n_surv") >= K)
        .select("event_type")
    )
    pruned = surv.join(F.broadcast(ok), "event_type", "semi").select(
        "event_type", "event_id", "value"
    )
    fallback = ev.join(F.broadcast(ok), "event_type", "anti")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        pruned.unionByName(fallback)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= K)
        .select("event_type", "rk", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# J16: merge-on-read (positional + equality delete files)
# ---------------------------------------------------------------------------


def mor_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Write an orders base layout plus two delete files, once per
    session: an EQUALITY delete (keys) and a POSITIONAL delete
    ((file_path, row_index) pairs captured from the physical layout via
    the parquet ``_metadata`` column — exactly what Iceberg v2 position
    deletes store)."""

    def build() -> tuple[str, str, str]:
        d = session_tmpdir("css_mor_")
        base = os.path.join(d, "base")
        posd = os.path.join(d, "posdel")
        eqd = os.path.join(d, "eqdel")
        load_table(spark, sf_dir, "orders").repartition(8).write.mode(
            "overwrite"
        ).parquet(base)
        (
            spark.read.parquet(base)
            .filter(F.col("o_orderkey") % 97 == 0)
            .select("o_orderkey")
            .write.mode("overwrite")
            .parquet(eqd)
        )
        (
            spark.read.parquet(base)
            .filter(F.col("o_custkey") % 89 == 0)
            .select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            .write.mode("overwrite")
            .parquet(posd)
        )
        return base, posd, eqd

    return session_memo(spark, ("j16_mor", os.path.abspath(sf_dir)), build)


_J16_ORACLE = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderkey % 97 <> 0 AND o_custkey % 89 <> 0
GROUP BY o_orderstatus
"""


@query("j16_merge_on_read", section="J5", oracle=_J16_ORACLE)
def j16_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read: serve a logically-deleted view of an immutable
    base layout by applying DELETE FILES at read time — the Iceberg
    v2 / Delta deletion-vector pattern that makes row-level deletes
    cheap at 100 TB (no base-file rewrite on delete; the cost moves to
    the read path, where it's two anti-joins).

    Two delete flavors, both genuinely applied:

    - **positional**: the delete file stores physical ``(file_path,
      row_index)`` pairs (captured via the parquet ``_metadata``
      column), applied with an anti-join against the scan's OWN
      metadata columns — this works even when the deleted rows have no
      usable key;
    - **equality**: the delete file stores key values, applied with an
      anti-join on the key.

    Both delete sets are compaction-sized, so the anti-joins broadcast
    (Iceberg readers apply them as in-task filter bitmaps — same
    dataflow, fused one level lower).  The oracle computes the
    equivalent logical view from the raw table; equality proves the
    positional pairs were resolved back to exactly the right physical
    rows.  The delete sets here are chosen FROM data predicates only so
    the oracle can express them; production delete files come from
    MERGE/DELETE statements and the read path is unchanged.
    """
    base, posd, eqd = mor_layout(spark, sf_dir)
    scan = spark.read.parquet(base).select(
        "*",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    pos_del = spark.read.parquet(posd)
    eq_del = spark.read.parquet(eqd)
    live = scan.join(
        F.broadcast(pos_del), ["file_path", "row_index"], "anti"
    ).join(F.broadcast(eq_del), ["o_orderkey"], "anti")
    return live.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        dsum("o_totalprice", "sum_price"),
    )


# ---------------------------------------------------------------------------
# L6: temperature-scaled source mixing (UniMax/mT5-style)
# ---------------------------------------------------------------------------

_L6T_BUDGET = 200  # documents to select across languages

_L6T_ORACLE = f"""
WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), wts AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(n_docs) * 1e9) AS BIGINT) AS s
  FROM per
), sh AS (
  SELECT lang, n_docs,
         CAST(s * {_L6T_BUDGET} AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE)
           AS raw
  FROM wts
), t0 AS (
  SELECT lang, n_docs, CAST(floor(raw) AS BIGINT) AS base,
         raw - floor(raw) AS frac
  FROM sh
), t1 AS (
  SELECT lang, n_docs, base,
         {_L6T_BUDGET} - SUM(base) OVER () AS rem,
         row_number() OVER (ORDER BY frac DESC, lang) AS rk
  FROM t0
), tgt AS (
  SELECT lang, n_docs,
         CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
           AS target_docs
  FROM t1
), ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
), sel AS (
  SELECT r.lang,
         CAST(count(*) AS BIGINT) AS n_selected,
         CAST(SUM(r.n_chars) AS BIGINT) AS sel_chars
  FROM ranked r JOIN tgt ON r.lang = tgt.lang
  WHERE r.rn <= tgt.target_docs
  GROUP BY 1
)
SELECT tgt.lang, tgt.n_docs, tgt.target_docs, sel.n_selected, sel.sel_chars
FROM tgt JOIN sel ON tgt.lang = sel.lang
"""


@query("l6_temperature_mix", section="L6", oracle=_L6T_ORACLE)
def l6_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing: sampling quotas proportional
    to ``p_i^alpha`` (alpha = 0.5, i.e. sqrt) upsample tail languages
    relative to their corpus share — the UniMax/mT5 recipe for
    multilingual training mixes — with LARGEST-REMAINDER rounding so
    the integer quotas sum exactly to the budget, and a deterministic
    md5-ordered per-language take.

    Scale shape: the quota computation runs on the language HISTOGRAM
    (dimension-sized, window over ()); the selection is one broadcast
    join of quotas onto a per-language ranking window (parallel across
    languages).  Cross-engine exactness is engineered, not assumed:
    the p^alpha weight is QUANTIZED to an integer
    (``floor(sqrt(n) * 1e9)`` — sqrt and the multiply are
    correctly-rounded IEEE ops so both engines produce the same
    BIGINT), the denominator is an exact integer SUM whose value is
    independent of accumulation order (a raw double sum-of-sqrt would
    be one ulp away from flipping ``floor(raw)`` at a quota boundary
    depending on which engine's summation order won), and the single
    remaining FP op is one identically-shaped BIGINT->DOUBLE division
    on both engines.  The md5 tie-order is identical text-hashing on
    both engines (no RNG — reproducible sample for a given corpus, the
    property a training-data pipeline actually wants).
    """
    B = _L6T_BUDGET
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    wts = per.select(
        "lang",
        "n_docs",
        F.floor(F.sqrt("n_docs") * F.lit(1e9)).cast("bigint").alias("s"),
    )
    sh = wts.select(
        "lang",
        "n_docs",
        (
            (F.col("s") * F.lit(B)).cast("double")
            / F.sum("s").over(w_all).cast("double")
        ).alias("raw"),
    )
    t0 = sh.select(
        "lang",
        "n_docs",
        F.floor("raw").cast("bigint").alias("base"),
        (F.col("raw") - F.floor("raw")).alias("frac"),
    )
    t1 = t0.select(
        "lang",
        "n_docs",
        "base",
        (F.lit(B) - F.sum("base").over(w_all)).alias("rem"),
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("frac").desc(), F.col("lang")))
        .alias("rk"),
    )
    tgt = t1.select(
        "lang",
        "n_docs",
        (
            F.col("base") + F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("target_docs"),
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    sel = (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", rn)
        .join(F.broadcast(tgt), "lang")
        .filter(F.col("rn") <= F.col("target_docs"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_chars").cast("bigint").alias("sel_chars"),
        )
    )
    return tgt.join(sel, "lang").select(
        "lang", "n_docs", "target_docs", "n_selected", "sel_chars"
    )


# ---------------------------------------------------------------------------
# ML7: probability calibration curve (reliability diagram)
# ---------------------------------------------------------------------------

_ML7_ORACLE = """
WITH scored AS (
  SELECT (lang = 'en') AS label,
         0.5 + 0.5 * ((n_chars - 300) / 80.0)
                   / (1 + abs((n_chars - 300) / 80.0)) AS p
  FROM documents
), binned AS (
  SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, label, p FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) * 1.0
         / count(*) AS frac_pos,
       min(p) AS min_p,
       max(p) AS max_p
FROM binned GROUP BY bin
"""


@query("ml7_calibration_curve", section="ML3", oracle=_ML7_ORACLE)
def ml7_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for a deterministic scorer: bin predicted
    probabilities, compare each bin's empirical positive rate to its
    probability range — the calibration step after any classifier
    (ml1/ml2) and before thresholding (ml3).

    One shuffle on a 10-value bin key; counts/min/max are all
    order-independent.  The squashing function is the RATIONAL sigmoid
    ``0.5 + 0.5·z/(1+|z|)`` instead of the logistic — every operation
    (+, −, ×, ÷, abs) is a correctly-rounded IEEE primitive, so the
    score is bit-identical on Spark and DuckDB, where ``exp()`` is
    library-dependent in the last ulp (the same determinism trade as
    the house decimal-money rule; the curve shape is equivalent).
    Binning is explicit ``least(floor(p·10), 9)`` — the same arithmetic
    on both engines, no width_bucket implementation drift.
    """
    d = load_table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 300) / 80.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))
    scored = d.select(
        (F.col("lang") == "en").alias("label"), p.alias("p")
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
        "label",
        "p",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        (
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint")
            * F.lit(1.0)
            / F.count("*")
        ).alias("frac_pos"),
        F.min("p").alias("min_p"),
        F.max("p").alias("max_p"),
    )
