"""Round-9 catalog additions.

- **A23 bitmap set algebra**: exact |A|, |B|, |A∩B|, |A∪B|, |A\\B| of
  user-id sets via mergeable bitmap aggregates — the shuffle carries
  kilobyte bitmaps, never raw ids (extends A15's single-set distinct
  to the full audience-overlap algebra every segmentation job runs).
- **TS14 CUSUM changepoint**: the classic cumulative-sum shift
  detector per series, kept in exact INTEGER arithmetic by scaling
  (n·Σxᵢ − t·T instead of Σ(xᵢ − T/n)) so both engines agree bit-for-bit.
- **TS15 lagged cross-correlation**: Pearson r between two daily
  series at each lag 0..7, computed from exact BIGINT moments with ONE
  identically-shaped double expression at the end — no
  accumulation-order hazard anywhere.
- **ML12 two-sample Kolmogorov–Smirnov**: exact D statistic from
  integer cross-products |c₁·n₂ − c₂·n₁| over the merged distinct-value
  grid (the ml8 histogram trick applied to CDFs).
- **DQ10 snapshot profile diff**: per-column profile (null rate, min,
  max, exact-decimal mean, distinct count) of two table snapshots,
  unpivoted into a metric-per-row drift report.
- **L7 template dedup**: near-dup detection for templated/boilerplate
  text (log lines, form letters): digits collapsed, whitespace
  normalized, md5 over the residual template — the cheap first pass
  production pipelines run before MinHash.
- **S18 gzip JSON-lines scan**: ingestion through a NON-SPLITTABLE
  codec — the plan must spread() immediately after the single-task
  scan or every downstream stage inherits one partition (the p16/l2
  lesson, now as a declared source capability).
- **L3 MIPS norm-prune**: exact maximum-inner-product top-k with a
  lossless Cauchy–Schwarz prune (‖q‖·‖x‖ < kth-best seed IP ⇒ x cannot
  reach top-k); the seed is a bounded largest-norm subset.  At index
  time norms are one stored column; at query time the prune decouples
  scoring cost from corpus size for skewed-norm embedding spaces.
- **G7 k-core (k=2) peeling**: iterative leaf removal to the maximal
  min-degree-2 subgraph — the third graph-algorithm shape (after
  label-propagate CC and wedge counting): a FIXPOINT loop whose round
  count is data-dependent, run as driver-sequenced Spark rounds with
  localCheckpoint truncation; the oracle unrolls the peel far past the
  measured convergence depth and the entry fails LOUDLY if the loop
  ever needs more rounds than the oracle proves.

House determinism rules (plans/catalog.py) apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.graph import _COPURCHASE_CTES, _copurchase_edges
from chronicle_sniffer_spark.plans.catalog import dsum, o_dsum, query
from chronicle_sniffer_spark.streaming.sessions import SESSION_GAP_MIN
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir, spread


# ---------------------------------------------------------------------------
# A23: bitmap set algebra (audience overlap)
# ---------------------------------------------------------------------------

_A23_ORACLE = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
       CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
       CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT) AS n_and,
       CAST((SELECT count(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)) AS BIGINT) AS n_or,
       CAST((SELECT count(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b)) AS BIGINT) AS n_a_minus_b
"""


@query("a23_bitmap_set_algebra", section="A15", oracle=_A23_ORACLE)
def a23_bitmap_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap algebra — |A|, |B|, |A∩B|, |A∪B|, |A\\B|
    for two user segments — via mergeable BITMAPS instead of
    COUNT(DISTINCT) shuffles of raw ids.

    ONE scan builds three per-id-bucket bitmaps with conditional
    inputs (``bitmap_construct_agg`` skips NULLs, so a CASE on the
    segment key routes each row into its bitmap): segment A, segment
    B, and A∪B — the union needs no scalar bitmap-OR because feeding
    both segments' positions into one construct_agg IS the OR.
    Intersection and difference follow by inclusion–exclusion on
    exact integers.  Scale shape: the shuffle after the scan carries
    #buckets × three 4 KB bitmap payloads — bounded by the id-space,
    independent of row count — and every result is EXACT, unlike
    sketch intersections whose error compounds.  This is the A15
    single-set machinery extended to the full set algebra a
    segmentation/attribution pipeline runs per pair of audiences."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pos = F.expr("bitmap_bit_position(user_id)")
    per_bucket = (
        e.select(
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.when(F.col("event_type") == "click", pos).alias("pos_a"),
            F.when(F.col("event_type") == "purchase", pos).alias("pos_b"),
            pos.alias("pos_u"),
        )
        .groupBy("bucket")
        .agg(
            F.expr("bitmap_count(bitmap_construct_agg(pos_a))").alias("ca"),
            F.expr("bitmap_count(bitmap_construct_agg(pos_b))").alias("cb"),
            F.expr("bitmap_count(bitmap_construct_agg(pos_u))").alias("cor"),
        )
    )
    return per_bucket.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        (F.sum("ca") + F.sum("cb") - F.sum("cor")).cast("bigint").alias("n_and"),
        F.sum("cor").cast("bigint").alias("n_or"),
        (F.sum("cor") - F.sum("cb")).cast("bigint").alias("n_a_minus_b"),
    )


# ---------------------------------------------------------------------------
# TS14: CUSUM changepoint detection
# ---------------------------------------------------------------------------

_TS14_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS t
  FROM daily GROUP BY 1
), cus AS (
  SELECT d.event_type, d.d,
         SUM(d.x) OVER (PARTITION BY d.event_type ORDER BY d.d) * tot.n
           - (row_number() OVER (PARTITION BY d.event_type ORDER BY d.d)) * tot.t
           AS s_scaled
  FROM daily d JOIN tot USING (event_type)
)
SELECT event_type, d AS change_day,
       CAST(s_scaled AS BIGINT) AS cusum_scaled
FROM (
  SELECT event_type, d, s_scaled,
         row_number() OVER (
           PARTITION BY event_type ORDER BY abs(s_scaled) DESC, d) AS rk
  FROM cus
) WHERE rk = 1
"""


@query("ts14_cusum_changepoint", section="TS4", oracle=_TS14_ORACLE)
def ts14_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detector per daily series: the day where the
    cumulative deviation from the series mean peaks — the standard
    level-shift locator (Page 1954) behind pipeline-regression alarms.

    Exactness is engineered: the textbook statistic Σᵢ≤ₜ(xᵢ − T/n)
    divides by the day count, putting a double into a running sum
    whose accumulation order differs across engines.  Scaling by n
    gives the INTEGER-equivalent n·Σᵢ≤ₜxᵢ − t·T, whose argmax is the
    same day — so the running sum, the comparison, and the reported
    peak are all BIGINT-exact on both engines (the l6_temperature_mix
    quantization lesson applied to a window recursion).

    Scale shape: one day-grain aggregate (map-side combinable), a
    broadcast of per-series totals (dimension-sized), one
    series-partitioned window, one ranked pick per series."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cus = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "d",
            (
                F.sum("x").over(w) * F.col("n")
                - F.row_number().over(w).cast("bigint") * F.col("t")
            ).alias("s_scaled"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.abs(F.col("s_scaled")).desc(), "d")
    )
    return (
        cus.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").cast("timestamp").alias("change_day"),
            F.col("s_scaled").cast("bigint").alias("cusum_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# TS15: lagged cross-correlation between two series
# ---------------------------------------------------------------------------

_TS15_MAX_LAG = 7

_TS15_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, event_type,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
), c AS (SELECT d, x FROM daily WHERE event_type = 'click'),
   p AS (SELECT d, x FROM daily WHERE event_type = 'purchase'),
   lags AS (SELECT unnest(generate_series(0, {_TS15_MAX_LAG})) AS lag),
   joined AS (
     SELECT lags.lag, c.x AS xc, p.x AS xp
     FROM lags JOIN c ON TRUE
     JOIN p ON p.d = c.d + to_days(CAST(lags.lag AS INT))
   ),
   mom AS (
     SELECT lag,
            CAST(count(*) AS BIGINT) AS n,
            CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(xp) AS BIGINT) AS sy,
            CAST(SUM(xc*xc) AS BIGINT) AS sxx, CAST(SUM(xp*xp) AS BIGINT) AS syy,
            CAST(SUM(xc*xp) AS BIGINT) AS sxy
     FROM joined GROUP BY 1
   )
SELECT CAST(lag AS INT) AS lag, n,
       CAST(n*sxy - sx*sy AS DOUBLE)
         / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
         AS r
FROM mom
"""


@query("ts15_lag_cross_correlation", section="TS4", oracle=_TS15_ORACLE)
def ts15_lag_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag discovery between two daily series (do clicks predict
    purchases L days later?): Pearson r at each lag 0..{L}, the
    cross-correlation function every metrics/causal-analysis stack
    computes.

    Determinism: r is NOT computed with ``corr()`` — a double
    accumulator whose order differs across engines.  The five moments
    (Σx, Σy, Σx², Σy², Σxy) are exact BIGINTs over integer daily
    counts, and r is ONE identically-shaped double expression over
    them (two separate sqrt casts keep the products inside the BIGINT
    range AND the FP op sequence identical on both engines).

    Scale shape: the day-grain aggregate collapses the event volume
    first; the lag fan-out is (#days × #lags) on the collapsed
    dimension-sized series — a broadcast-joined grid, never a shuffle
    of raw events."""
    L = _TS15_MAX_LAG
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = (
        e.select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    c = daily.filter(F.col("event_type") == "click").select(
        F.col("d").alias("dc"), F.col("x").alias("xc")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("d").alias("dp"), F.col("x").alias("xp")
    )
    lags = spark.range(0, L + 1).select(F.col("id").cast("int").alias("lag"))
    joined = (
        c.crossJoin(F.broadcast(lags))
        .join(
            p,
            F.col("dp")
            == F.col("dc") + F.make_dt_interval(days=F.col("lag")),
        )
    )
    mom = joined.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum("xp").cast("bigint").alias("sy"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("sxx"),
        F.sum(F.col("xp") * F.col("xp")).cast("bigint").alias("syy"),
        F.sum(F.col("xc") * F.col("xp")).cast("bigint").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return mom.select(
        "lag", "n", (num / (F.sqrt(dx) * F.sqrt(dy))).alias("r")
    )


ts15_lag_cross_correlation.__doc__ = ts15_lag_cross_correlation.__doc__.format(
    L=_TS15_MAX_LAG
)


# ---------------------------------------------------------------------------
# ML12: exact two-sample Kolmogorov–Smirnov statistic
# ---------------------------------------------------------------------------

_ML12_ORACLE = """
WITH s1 AS (SELECT n_chars AS v FROM documents WHERE lang = 'en'),
     s2 AS (SELECT n_chars AS v FROM documents WHERE lang = 'de'),
     grid AS (
       SELECT v,
              CAST(count(*) FILTER (WHERE src = 1) AS BIGINT) AS k1,
              CAST(count(*) FILTER (WHERE src = 2) AS BIGINT) AS k2
       FROM (SELECT v, 1 AS src FROM s1 UNION ALL SELECT v, 2 AS src FROM s2)
       GROUP BY v
     ),
     cdf AS (
       SELECT v,
              SUM(k1) OVER (ORDER BY v) AS c1,
              SUM(k2) OVER (ORDER BY v) AS c2
       FROM grid
     ),
     tot AS (SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n1,
                    CAST((SELECT count(*) FROM s2) AS BIGINT) AS n2)
SELECT tot.n1, tot.n2,
       CAST(MAX(abs(cdf.c1 * tot.n2 - cdf.c2 * tot.n1)) AS BIGINT) AS ks_num,
       CAST(MAX(abs(cdf.c1 * tot.n2 - cdf.c2 * tot.n1)) AS DOUBLE)
         / CAST(tot.n1 * tot.n2 AS DOUBLE) AS ks
FROM cdf, tot GROUP BY tot.n1, tot.n2
"""


@query("ml12_ks_two_sample", section="ML3", oracle=_ML12_ORACLE)
def ml12_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the
    length distributions of two document segments — the standard
    distribution-shift test batteries run between training snapshots.

    D = max |F₁(v) − F₂(v)| is computed on the merged distinct-value
    grid with CDFs kept as INTEGER cross-products: |c₁·n₂ − c₂·n₁| is
    exact BIGINT (counts ≤ corpus², far inside the range), and the
    single division happens once on the final max — the ml8/ml10
    histogram discipline applied to CDF comparison.

    Scale shape: the value grid is an aggregate over distinct lengths
    (thousands of rows, independent of corpus size); the global
    cumulative window runs on that aggregated grid — exactly the
    bounded-input global window the window audit allows."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.filter(F.col("lang") == "en").select(F.col("n_chars").alias("v"))
    s2 = d.filter(F.col("lang") == "de").select(F.col("n_chars").alias("v"))
    grid = (
        s1.select("v", F.lit(1).alias("src"))
        .unionByName(s2.select("v", F.lit(2).alias("src")))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).cast("bigint").alias("k1"),
            F.sum(F.when(F.col("src") == 2, 1).otherwise(0)).cast("bigint").alias("k2"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = grid.select(
        F.sum("k1").over(w).alias("c1"), F.sum("k2").over(w).alias("c2")
    )
    tot = s1.agg(F.count("*").cast("bigint").alias("n1")).crossJoin(
        s2.agg(F.count("*").cast("bigint").alias("n2"))
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint")
            .alias("ks_num"),
        )
        .select(
            "n1",
            "n2",
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ).alias("ks"),
        )
    )


# ---------------------------------------------------------------------------
# DQ10: snapshot profile drift report
# ---------------------------------------------------------------------------

_DQ10_ORACLE = f"""
WITH prof AS (
  SELECT (CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'v1' ELSE 'v2' END) AS snap,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(o_totalprice) AS BIGINT) AS price_nulls,
         CAST(min(o_totalprice) AS DOUBLE) AS price_min,
         CAST(max(o_totalprice) AS DOUBLE) AS price_max,
         {o_dsum("o_totalprice", "price_sum")},
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS priority_distinct
  FROM orders GROUP BY 1
)
SELECT a.metric, a.v1, b.v2
FROM (
  SELECT * FROM (
    SELECT 'n_rows' AS metric, CAST(n_rows AS DOUBLE) AS v1 FROM prof WHERE snap='v1'
    UNION ALL SELECT 'price_nulls', CAST(price_nulls AS DOUBLE) FROM prof WHERE snap='v1'
    UNION ALL SELECT 'price_min', price_min FROM prof WHERE snap='v1'
    UNION ALL SELECT 'price_max', price_max FROM prof WHERE snap='v1'
    UNION ALL SELECT 'price_sum', price_sum FROM prof WHERE snap='v1'
    UNION ALL SELECT 'priority_distinct', CAST(priority_distinct AS DOUBLE) FROM prof WHERE snap='v1'
  )
) a JOIN (
  SELECT * FROM (
    SELECT 'n_rows' AS metric, CAST(n_rows AS DOUBLE) AS v2 FROM prof WHERE snap='v2'
    UNION ALL SELECT 'price_nulls', CAST(price_nulls AS DOUBLE) FROM prof WHERE snap='v2'
    UNION ALL SELECT 'price_min', price_min FROM prof WHERE snap='v2'
    UNION ALL SELECT 'price_max', price_max FROM prof WHERE snap='v2'
    UNION ALL SELECT 'price_sum', price_sum FROM prof WHERE snap='v2'
    UNION ALL SELECT 'priority_distinct', CAST(priority_distinct AS DOUBLE) FROM prof WHERE snap='v2'
  )
) b USING (metric)
"""


@query("dq10_profile_snapshot_diff", section="DQ4", oracle=_DQ10_ORACLE)
def dq10_profile_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between two table snapshots (here the
    pre-/post-1996 halves of ``orders``): row count, null count,
    min/max, exact-decimal sum, distinct count — the Deequ/profiler
    surface, unpivoted to one metric per row so a monitoring sink can
    diff and alert per metric.  Complements dq4 (distribution drift of
    ONE categorical column) with the whole-table profile shape.

    Determinism: the mean-ish metric is an exact-decimal SUM cast to
    double (house money rule); min/max/counts are order-independent by
    nature.  Scale shape: ONE conditional-aggregate pass per snapshot
    pair (profiles ride the same scan via the snap CASE key), then a
    6-row unpivot + self-join on the metric name."""
    o = load_table(spark, sf_dir, "orders")
    prof = (
        o.withColumn(
            "snap",
            F.when(F.col("o_orderdate") < F.lit("1996-01-01").cast("date"), "v1")
            .otherwise("v2"),
        )
        .groupBy("snap")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.count("*") - F.count("o_totalprice")).cast("bigint").alias("price_nulls"),
            F.min("o_totalprice").cast("double").alias("price_min"),
            F.max("o_totalprice").cast("double").alias("price_max"),
            dsum("o_totalprice", "price_sum"),
            F.countDistinct("o_orderpriority").cast("bigint").alias("priority_distinct"),
        )
    )
    metrics = [
        "n_rows",
        "price_nulls",
        "price_min",
        "price_max",
        "price_sum",
        "priority_distinct",
    ]
    unp = prof.select(
        "snap", *[F.col(m).cast("double").alias(m) for m in metrics]
    ).unpivot(["snap"], metrics, "metric", "val")
    v1 = unp.filter(F.col("snap") == "v1").select("metric", F.col("val").alias("v1"))
    v2 = unp.filter(F.col("snap") == "v2").select("metric", F.col("val").alias("v2"))
    return v1.join(v2, "metric")


# ---------------------------------------------------------------------------
# L7: template-hash dedup (boilerplate collapse)
# ---------------------------------------------------------------------------

_L7_HEAD = 8

_L7_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         md5(regexp_replace(
           array_to_string((string_split(lower(text), ' '))[1:{_L7_HEAD}], ' '),
           '[0-9]+', '#', 'g')) AS tpl
  FROM documents
)
SELECT tpl, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS exemplar_doc
FROM t GROUP BY tpl HAVING count(*) > 1
"""


@query("l7_template_dedup", section="L2", oracle=_L7_ORACLE)
def l7_template_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-hash dedup: collapse documents sharing a normalized
    HEADER template — lowercased first 8 words with digit
    runs collapsed to '#' — the cheap first pass real curation
    pipelines run before MinHash: log lines, form letters and
    generated boilerplate differ only in ids/timestamps/counters and
    tail content, collapsing to a handful of templates while
    full-text hashing sees every row as unique.

    Cross-engine trap pinned here: DuckDB ``regexp_replace`` is
    first-match-only by default and needs the explicit 'g' flag to
    match Spark's replace-all semantics.  Scale shape: identical to
    l1_exact_dedup — a narrow map + hash groupBy, no candidate
    generation at all."""
    d = load_table(spark, sf_dir, "documents")
    tpl = F.md5(
        F.regexp_replace(
            F.array_join(F.slice(F.split(F.lower("text"), " "), 1, _L7_HEAD), " "),
            "[0-9]+",
            "#",
        )
    )
    return (
        d.select("doc_id", tpl.alias("tpl"))
        .groupBy("tpl")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# S18: gzip JSON-lines scan (non-splittable codec ingestion)
# ---------------------------------------------------------------------------

_S18_ORACLE = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders GROUP BY 1
"""


def _s18_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders as ONE gzip JSON-lines file (the shape log
    shippers deliver), once per session."""

    def build() -> str:
        out = session_tmpdir("css_s18_gzip_")
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .coalesce(1)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(out)
        )
        return out

    return session_memo(spark, ("s18_gzip", os.path.abspath(sf_dir)), build)


@query("s18_gzip_json_scan", section="S2", oracle=_S18_ORACLE)
def s18_gzip_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion through a NON-SPLITTABLE compression codec: a .json.gz
    file cannot be byte-range split, so however large the file and
    whatever ``maxPartitionBytes`` says, the scan is ONE task — and
    every narrow stage after it inherits that single partition.  The
    plan therefore ``spread()``s immediately after the scan, the same
    single-task-source lesson p16/l2_minhash learned, now declared as
    a source capability (at 100 TB: prefer splittable zstd/bzip2 or
    many small gzip files; when gzip lands anyway, repartition right
    after decode).

    Double fidelity: JSON round-trips doubles through shortest-repr
    text, which parses back to the identical bits — the exact-decimal
    SUM then matches the oracle computed on the original parquet."""
    staged = _s18_stage(spark, sf_dir)
    raw = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    ).json(staged)
    return (
        spread(raw)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# L3: exact MIPS top-k with lossless norm pruning
# ---------------------------------------------------------------------------

_MIPS_K = 10
_MIPS_SEED = 256

_MIPS_ORACLE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), scaled AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> x * (1 + CAST(vec_id % 13 AS DOUBLE))) AS xv
  FROM embeddings WHERE vec_id <> 0
), scored AS (
  SELECT s.vec_id,
         round(list_inner_product(s.xv, q.qv), 6) AS ip
  FROM scaled s, q
)
SELECT vec_id, ip, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, ip, row_number() OVER (ORDER BY ip DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {_MIPS_K}
"""


@query("l3_mips_norm_prune", section="L3", oracle=_MIPS_ORACLE)
def l3_mips_norm_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximum-inner-product top-k with a lossless
    Cauchy–Schwarz prune — the retrieval primitive for un-normalized
    embedding spaces (recommendation scores, learned rankers), where
    cosine ANN buckets don't apply because magnitude matters.

    The corpus embeddings are unit-norm (cosine-ready), which would
    make a norm prune structurally vacuous — so the entry scores the
    MAGNITUDE-WEIGHTED space real recommenders serve:
    ``x · (1 + vec_id % 13)`` (popularity × direction), identical
    deterministic scaling on both engines.  float×small-int products
    round identically in double, so scores still hash-match.

    Two phases, both declarative: (1) SEED — the {_MIPS_SEED}
    largest-norm vectors are scored exactly and the k-th best inner
    product L extracted (a TakeOrdered + bounded window).  (2) PRUNE +
    VERIFY — since q·x ≤ ‖q‖·‖x‖, any x with ‖q‖·‖x‖ < L can never
    enter the top-k, so only survivors are scored.  The bound is
    mathematically lossless; an epsilon relaxation absorbs the last-ulp
    FP slack so the filter can only ADMIT extra candidates, never drop
    a true member.  At index time ‖x‖ is one stored column (as the IVF
    entries store cells); at query time the prune decouples scoring
    cost from corpus size whenever the norm distribution is skewed —
    the seed phase is O({_MIPS_SEED}·dim) and survivors shrink with
    norm skew.  float×float products are exact in double and both
    engines fold left-to-right, so scores hash-match at full
    precision (the l3_cosine_topk determinism argument).

    tests/test_round9.py proves the prune fires (survivors < corpus)
    AND equals brute force."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.col("embedding").cast("array<double>")
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(
            dbl.alias("qv"),
            F.sqrt(
                F.aggregate(
                    F.zip_with(dbl, dbl, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ).alias("qn"),
        )
    )
    scaled = F.transform(
        dbl, lambda x: x * (F.lit(1.0) + (F.col("vec_id") % 13).cast("double"))
    )
    cand = (
        e.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            scaled.alias("xv"),
        )
        .select(
            "vec_id",
            "xv",
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("xv"), F.col("xv"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ).alias("xn"),
        )
    )
    ip = F.round(
        F.aggregate(
            F.zip_with(F.col("xv"), F.col("qv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    seed = (
        cand.orderBy(F.col("xn").desc(), "vec_id")
        .limit(_MIPS_SEED)
        .crossJoin(F.broadcast(q))
        .select("vec_id", ip.alias("ip"))
    )
    # k-th best seed IP: a global window over a LIMIT-bounded relation
    kth = (
        seed.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.col("ip").desc(), "vec_id"))
        )
        .filter(F.col("rk") == _MIPS_K)
        .select(F.col("ip").alias("l_bound"))
    )
    survivors = (
        cand.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(kth))
        .filter(
            # relaxation must absorb BOTH last-ulp FP slack (relative 1e-9
            # term) AND the 6-dp rounding of l_bound itself: a candidate
            # whose true IP lies in (l_bound - 5e-7, l_bound) rounds to the
            # same 6-dp value and can win the vec_id tie-break, so the
            # absolute slack is a full 6-dp ulp (1e-6), not 1e-9
            F.col("xn") * F.col("qn")
            >= F.col("l_bound") - F.abs(F.col("l_bound")) * 1e-9 - F.lit(1e-6)
        )
        .select("vec_id", ip.alias("ip"))
    )
    return (
        survivors.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("ip").desc(), "vec_id")),
        )
        .filter(F.col("rank") <= _MIPS_K)
        .select("vec_id", "ip", F.col("rank").cast("int").alias("rank"))
    )


l3_mips_norm_prune.__doc__ = l3_mips_norm_prune.__doc__.format(
    _MIPS_SEED=_MIPS_SEED
)


# ---------------------------------------------------------------------------
# G7: k-core (k=2) via iterative peeling
# ---------------------------------------------------------------------------

_G7_UNROLL = 8


def _g7_oracle() -> str:

    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one ~5 times, so an inlined
    # unroll re-expands the base scan 5^rounds times ("too many open
    # files" before it even plans).  Materializing every round keeps
    # the oracle linear in rounds, mirroring the Spark loop's
    # localCheckpoint.
    rounds = []
    prev = "edges"
    for i in range(_G7_UNROLL):
        rounds.append(
            f"""deg{i} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
  ) GROUP BY 1
), keep{i} AS MATERIALIZED (SELECT node FROM deg{i} WHERE deg >= 2),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN keep{i} ka ON ka.node = e.u
  JOIN keep{i} kb ON kb.node = e.v
)"""
        )
        prev = f"e{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_COPURCHASE_CTES},
{chain}
SELECT node AS user_id, deg FROM deg{_G7_UNROLL - 1}
WHERE deg >= 2
"""


@query("g7_kcore_peel", section="G2", oracle=_g7_oracle())
def g7_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph: the maximal subgraph where
    every node keeps degree ≥ 2 — the standard peel that strips
    tree-like appendages before community/cycle analytics (and the
    third graph-iteration SHAPE in the catalog: a data-dependent
    FIXPOINT loop, vs CC's logarithmic star rounds and BFS's fixed-K
    unroll).

    Each round drops nodes with degree < 2 and their edges; the loop
    runs Spark-side until the edge count stops changing, with
    ``localCheckpoint`` truncating lineage per round (the CC lesson).
    Scale shape per round: one degree aggregate + two semi-joins, all
    node/edge-keyed shuffles.  Rounds are data-dependent, so the entry
    ASSERTS convergence within the {_G7_UNROLL} rounds the oracle
    unrolls — if a future corpus peels deeper, the entry fails loudly
    (the coverage5 loud-assumption discipline) instead of silently
    diverging from its oracle."""

    # lazy checkpoint + count() materialization: ONE driver-synchronized
    # job per round instead of two (the g3/o18 convergence-fusion
    # pattern — an eager checkpoint followed by a count pays a second
    # scheduling round-trip for rows already in memory)
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    n_prev = edges.count()
    for rnd in range(_G7_UNROLL):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 2).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n_now = edges.count()
        if n_now == n_prev:
            break
        n_prev = n_now
    else:
        raise AssertionError(
            f"2-core peel did not converge within {_G7_UNROLL} rounds — "
            f"raise _G7_UNROLL (oracle unrolls the same depth)"
        )
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .filter(F.col("deg") >= 2)
        .select(F.col("node").alias("user_id"), "deg")
    )


# ---------------------------------------------------------------------------
# TS16: Theil–Sen robust trend slope
# ---------------------------------------------------------------------------

_TS16_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
), pairs AS (
  SELECT a.event_type,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope,
         a.i AS i, b.i AS j
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.i < b.i
), ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope, i, j) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
)
SELECT r.event_type,
       CAST(n.n_days AS BIGINT) AS n_days,
       CAST(r.m AS BIGINT) AS n_pairs,
       r.slope AS ts_slope
FROM ranked r
JOIN (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1) n
  USING (event_type)
WHERE r.rn = (r.m + 1) // 2
"""


@query("ts16_theil_sen_slope", section="TS4", oracle=_TS16_ORACLE)
def ts16_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator per daily series: the MEDIAN of all
    pairwise slopes — the robust trend the OLS line (a12) is not
    (a single spiked day moves OLS, not the pairwise median; 29%
    breakdown point).

    Exactness: each slope is ONE integer-difference division —
    identical doubles on both engines — and the median is picked by
    deterministic rank ((m+1) div 2 under a total (slope, i, j)
    order), never by averaging two middles (which would add a second
    FP op to get wrong).  Scale shape: the pair fan-out is over the
    DAY-collapsed series (calendar-bounded — 365 days is 66k pairs
    per series regardless of event volume); the only data-sized work
    is the first day-grain aggregate."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    idx = daily.select(
        "event_type",
        "x",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("i"),
    )
    a = idx.select(
        F.col("event_type"), F.col("x").alias("xa"), F.col("i").alias("i")
    )
    b = idx.select(
        F.col("event_type").alias("et_b"), F.col("x").alias("xb"), F.col("i").alias("j")
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("i") < F.col("j"))
    ).select(
        "event_type",
        (
            (F.col("xb") - F.col("xa")).cast("double")
            / (F.col("j") - F.col("i")).cast("double")
        ).alias("slope"),
        "i",
        "j",
    )
    wp = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wp.orderBy("slope", "i", "j")).alias("rn"),
        F.count("*").over(wp).alias("m"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days")
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(m + 1) div 2"))
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("m").cast("bigint").alias("n_pairs"),
            F.col("slope").alias("ts_slope"),
        )
    )


# ---------------------------------------------------------------------------
# ML13: Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_ML13_B = 64
# cumulative Poisson(1) CDF thresholds for the inverse-CDF draw
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897507410252,
)


_U15 = float(1 << 15)
# Poisson(1) CDF thresholds quantized onto the 15-bit draw grid: the
# weight becomes pure INTEGER comparisons (w = #thresholds <= draw),
# identical on both engines and cheap to codegen
_POIS_CDF_I15 = tuple(round(t * (1 << 15)) for t in _POIS_CDF)


def _pois_int_sum_sql(v_expr: str) -> str:
    return " + ".join(f"(({v_expr}) >= {t})::INT" for t in _POIS_CDF_I15)


_ML13_ORACLE = f"""
WITH b AS (SELECT unnest(generate_series(0, {_ML13_B - 1})) AS b),
rows_b AS (
  SELECT b.b, o.o_totalprice,
         {_pois_int_sum_sql(
             "(('0x' || substr(md5(concat(CAST(o.o_orderkey AS VARCHAR), ':',"
             " CAST(b.b // 4 AS VARCHAR))), 1, 15))::BIGINT"
             " >> (15 * (b.b % 4))) & 32767"
         )} AS w
  FROM orders o JOIN b ON TRUE
),
means AS (
  SELECT b,
         CAST(SUM(CAST(w AS BIGINT)
                  * CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / CAST(SUM(CAST(w AS BIGINT)) AS DOUBLE) / 100.0 AS mean_b
  FROM rows_b GROUP BY b
),
ranked AS (
  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM means
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean
  FROM orders
)
SELECT pt.n_rows, pt.mean,
       (SELECT mean_b FROM ranked WHERE rn = 2) AS ci_lo,
       (SELECT mean_b FROM ranked WHERE rn = {_ML13_B - 1}) AS ci_hi
FROM pt
"""


@query("ml13_poisson_bootstrap_ci", section="ML3", oracle=_ML13_ORACLE)
def ml13_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for a mean — THE
    distributed bootstrap (Chamandy et al., Google 2012): instead of
    resampling n rows with replacement (which needs global
    coordination), each row independently receives a Poisson(1)
    replication weight per resample, so all B resamples ride ONE pass
    as conditional weighted sums.

    Determinism: each weight is inverse-CDF'd from a 15-bit slice of
    one 60-bit md5-derived integer per draw group — the dq3
    replayable-noise idiom, with FOUR draws shift/masked out of each
    digest so a row pays 16 hashes + 16 hex parses for its {B}
    weights, not {B} — with the Poisson CDF thresholds as
    shared double literals; each resample mean is an exact-decimal
    weighted sum over integer weights divided once; the CI picks ranks
    2 and {B1} of the {B} sorted means (deterministic total order),
    never interpolates.

    Scale shape: O(1) expressions in B — the plan no longer grows with
    the draw count at all.  The draw axis is unrolled by two pipelined
    Generates instead of 2·{B} aggregate columns: explode the 16
    digest-group ids (ONE sequence expression), hash each (row, group)
    once, posexplode the four literal-shift 15-bit slices, compute the
    weight, and hash-aggregate on the draw id b = 4·g + k.  Every
    stage stays inside whole-stage codegen (Generate pipelines; no
    higher-order lambdas, which evaluate interpreted), total md5 work
    is the same 16 digests per row, and the {B}-fold "fan-out" never
    reaches a shuffle — map-side partial aggregation collapses it to
    {B} rows per task before the one {B}-group exchange.  The previous
    shape (2·{B} conditional sums quartered into four cross-joined
    aggregates to dodge Janino's 64 KB method limit) was codegen'd and
    one-pass but paid ~7 s of driver-side Catalyst + Janino per plan
    REBUILD for its ~600 expressions — this form plans in
    milliseconds.  The rank window runs over {B} aggregated rows."""
    o = load_table(spark, sf_dir, "orders")

    # money as exact integer CENTS: the weighted sums are then long
    # arithmetic instead of 96M BigDecimal ops; round(x*100) is the
    # same correctly-rounded double op on both engines, and the
    # fixed-point sum is exactly the DECIMAL(18,2) sum the house
    # money rule wants.  ONE hex parse per digest: 15 hex chars = 60
    # uniform bits = four 15-bit draws extracted by shift/mask.
    g_rows = spread(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("p"),
            F.col("o_orderkey").cast("string").alias("key"),
        )
    ).select(
        "p",
        "key",
        F.explode(F.sequence(F.lit(0), F.lit(_ML13_B // 4 - 1))).alias("g"),
    )
    digest = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("key"), F.col("g").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    k_rows = g_rows.select(
        "p",
        "g",
        # the four slices carry LITERAL shift amounts, so shiftright
        # stays a plain codegen'd long op
        F.posexplode(
            F.array(
                *[
                    F.shiftright(digest, 15 * k).bitwiseAND(F.lit(32767))
                    for k in range(4)
                ]
            )
        ).alias("k", "v15"),
    )
    # branchless inverse CDF on the integer grid: w = #thresholds
    # <= draw (flat casts; a nested CASE ladder blew Janino's 64 KB
    # limit in the round-9 draft and fell back to interpreted)
    w = sum(
        ((F.col("v15") >= F.lit(t)).cast("bigint") for t in _POIS_CDF_I15),
        F.lit(0).cast("bigint"),
    )
    means = (
        k_rows.select(
            (F.col("g") * 4 + F.col("k")).cast("int").alias("b"),
            "p",
            w.alias("w"),
        )
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("p")).cast("double")
                / F.sum("w").cast("double")
                / F.lit(100.0)
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b", F.row_number().over(Window.orderBy("mean_b", "b")).alias("rn")
    )
    pt = o.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean"),
    )
    # ONE consumption of the ranked means: separate rn==2 / rn==B-1
    # filter branches would each re-execute the whole explode+hash
    # pipeline (measured 9.6 s vs 0.9 s at sf0.1)
    ci = ranked.agg(
        F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.min(F.when(F.col("rn") == _ML13_B - 1, F.col("mean_b"))).alias("ci_hi"),
    )
    return pt.crossJoin(F.broadcast(ci))


ml13_poisson_bootstrap_ci.__doc__ = ml13_poisson_bootstrap_ci.__doc__.format(
    B=_ML13_B, B1=_ML13_B - 1
)


# ---------------------------------------------------------------------------
# DQ11: snapshot row-level diff (data diff)
# ---------------------------------------------------------------------------

_DQ11_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 50 <> 0
), v2 AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 17 = 0 THEN 'X' ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 71 <> 0
), j AS (
  SELECT v1.k AS k1, v2.k AS k2,
         v1.price AS p1, v2.price AS p2, v1.status AS s1, v2.status AS s2
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
), cls AS (
  SELECT CASE WHEN k1 IS NULL THEN 'added'
              WHEN k2 IS NULL THEN 'removed'
              WHEN p1 <> p2 OR s1 <> s2 THEN 'changed'
              ELSE 'unchanged' END AS diff_class,
         CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL AND p1 <> p2
              THEN 1 ELSE 0 END AS pc,
         CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL AND s1 <> s2
              THEN 1 ELSE 0 END AS sc
  FROM j
)
SELECT diff_class, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(pc) AS BIGINT) AS n_price_changed,
       CAST(SUM(sc) AS BIGINT) AS n_status_changed
FROM cls GROUP BY 1
"""


@query("dq11_snapshot_row_diff", section="DQ4", oracle=_DQ11_ORACLE)
def dq11_snapshot_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level data diff between two table snapshots — the
    added/removed/changed/unchanged report (with per-COLUMN change
    attribution) that migration sign-offs and CDC reconciliations run.
    The snapshots are deterministic derivations of ``orders`` (a key
    filter plus planted price/status mutations), so the diff has known
    non-empty classes to find.

    Exactness: the planted price change is ONE double multiply,
    identical on both engines, so the inequality classification can't
    flake.  Scale shape: one full-outer hash join on the primary key
    (the unavoidable shape of a row diff) followed by a one-pass
    conditional aggregate; at 100 TB the join co-partitions both
    snapshots by key — no row ships twice."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 50 != 0).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("p1"),
        F.col("o_orderstatus").alias("s1"),
    )
    v2 = o.filter(F.col("o_orderkey") % 71 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * F.lit(1.1)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("p2"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("s2"),
    )
    j = v1.join(v2, v1.k1 == v2.k2, "full_outer")
    both = F.col("k1").isNotNull() & F.col("k2").isNotNull()
    cls = j.select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(
            (F.col("p1") != F.col("p2")) | (F.col("s1") != F.col("s2")), "changed"
        )
        .otherwise("unchanged")
        .alias("diff_class"),
        F.when(both & (F.col("p1") != F.col("p2")), 1).otherwise(0).alias("pc"),
        F.when(both & (F.col("s1") != F.col("s2")), 1).otherwise(0).alias("sc"),
    )
    return cls.groupBy("diff_class").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pc").cast("bigint").alias("n_price_changed"),
        F.sum("sc").cast("bigint").alias("n_status_changed"),
    )


# ---------------------------------------------------------------------------
# G8: degree power-law exponent (MLE)
# ---------------------------------------------------------------------------

_G8_XMIN = 2


def _g8_oracle() -> str:

    return f"""
WITH {_COPURCHASE_CTES},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
), tail AS (
  SELECT d FROM deg WHERE d >= {_G8_XMIN}
), q AS (
  SELECT CAST(round(ln(CAST(d AS DOUBLE) / {_G8_XMIN}.0), 9) AS DECIMAL(28,9)) AS qln
  FROM tail
)
SELECT CAST((SELECT count(*) FROM tail) AS BIGINT) AS n_tail,
       CAST({_G8_XMIN} AS INT) AS xmin,
       round(CAST(1.0 AS DOUBLE)
             + CAST((SELECT count(*) FROM tail) AS DOUBLE)
               / CAST((SELECT SUM(qln) FROM q) AS DOUBLE), 6) AS alpha
"""


@query("g8_degree_powerlaw", section="G2", oracle=_g8_oracle())
def g8_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the co-purchase degree distribution via
    the continuous MLE α = 1 + n / Σ ln(dᵢ/x_min) (Clauset–Shalizi–
    Newman 2009) — the one-number heavy-tail diagnostic that decides
    whether a graph needs skew handling (α ≲ 2.5 means celebrity nodes
    WILL dominate joins).

    Determinism: Σ ln(...) is a double accumulation — the exact hazard
    the temperature-mix fix removed — so each ln is QUANTIZED to 9 dp
    per term (the dq3/surprisal discipline) and summed as exact
    DECIMAL(28,9): the sum is order-independent, and the final
    1 + n/Σ is one shared double expression.  Scale shape: degree agg
    + one scan of the degree relation (node-sized, not edge-sized).
    The edge subtree (events distinct + capped window + self-join)
    appears ONCE in the plan: degrees come from one explode of the
    2-element [u, v] array instead of a unionAll of two projections
    (which re-derived the edges per branch), and n_tail and Σ ride
    the SAME aggregate instead of two crossJoined ones (the 1-row
    side broadcast, which AQE's exchange reuse cannot dedupe — the
    tail subtree executed twice)."""

    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    tail = deg.filter(F.col("d") >= _G8_XMIN)
    agg = tail.select(
        F.round(F.log(F.col("d").cast("double") / F.lit(float(_G8_XMIN))), 9)
        .cast("decimal(28,9)")
        .alias("qln")
    ).agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.sum("qln").alias("s"),
    )
    return agg.select(
        "n_tail",
        F.lit(_G8_XMIN).cast("int").alias("xmin"),
        F.round(
            F.lit(1.0) + F.col("n_tail").cast("double") / F.col("s").cast("double"),
            6,
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# O18: incremental sessionization (merge new events into stored sessions)
# ---------------------------------------------------------------------------

def o18_cutoff_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row relation: the cutoff (epoch micros) splitting events into
    base and delta.  Chosen as the LATEST event timestamp whose
    predecessor (same user) is within the session gap — i.e. a cutoff
    that lands strictly inside a session, so the base/delta split is
    GUARANTEED to sever at least one stored session that the
    incremental merge must re-bridge (a fixed calendar cutoff on this
    sparse corpus severed nothing, making the oracle equality
    vacuous).  In production the cutoff is simply yesterday's
    watermark; data-deriving it here is test-harness rigor, not part
    of the operator."""

    gap_us = SESSION_GAP_MIN * 60 * 1000000
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    return (
        e.select(us.alias("t"), prev.alias("p"))
        .filter(F.col("p").isNotNull() & ((F.col("t") - F.col("p")) <= gap_us)
                & (F.col("t") > F.col("p")))
        .agg(F.max("t").alias("cutoff_us"))
    )


def _o18_oracle() -> str:

    return f"""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
"""


@query("o18_incremental_sessionize", section="O10", oracle=_o18_oracle())
def o18_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization: merge TODAY'S events into the
    STORED session table without re-sessionizing history — the session
    twin of o10's incremental aggregate refresh, and the 100 TB shape
    (a day's delta is ~1/1000 of history; full re-sessionization
    re-shuffles everything for nothing).

    Mechanism: base sessions (events before the cutoff) collapse to
    [start, end, n] intervals; the delta's AFFECTED USERS (semi-join)
    get their base intervals + delta points re-merged by the ts12
    interval-union-with-gap pass; untouched users' sessions pass
    through byte-identical.  Correctness is not assumed — the ORACLE
    IS THE FULL RECOMPUTE over all events, so the driver gate proves
    incremental ≡ full on every run.  The proof sketch the equality
    rests on: a stored session's internal gaps are ≤ G by
    construction, so collapsing it to an interval preserves every
    merge decision; delta events all sort after base intervals (the
    cutoff orders them), so the interval-union's
    start > max(end)+G island test asks exactly the questions full
    sessionization would.

    Scale shape: one user-keyed shuffle over the DELTA plus a
    semi-join pull of affected users' stored sessions (session-table
    sized, not event-history sized); untouched users never move."""

    gap_us = SESSION_GAP_MIN * 60 * 1000000
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # the 1-row cutoff is consumed by both the base and delta branches
    # — checkpoint it so its own event-history window runs once, not
    # once per lazy broadcast
    cut = o18_cutoff_micros(spark, sf_dir).localCheckpoint(eager=True)
    ecut = e.crossJoin(F.broadcast(cut))
    base_ev = ecut.filter(us < F.col("cutoff_us"))
    # day-delta-sized; consumed twice (affected-user set + merge items)
    delta_ev = ecut.filter(us >= F.col("cutoff_us")).localCheckpoint(
        eager=True
    )

    # --- stored session table (what a warehouse would have on disk) ---
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    marked = base_ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0).alias("st"),
    )
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    base_sessions = (
        marked.select("user_id", "ts", F.sum("st").over(wrun).alias("sid"))
        .groupBy("user_id", "sid")
        .agg(
            F.unix_micros(F.min("ts").cast("timestamp")).alias("s"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("e"),
            F.count("*").cast("bigint").alias("n"),
        )
        .drop("sid")
        # the stored session table IS materialized in production (it's
        # what the warehouse has on disk); the checkpoint plays that
        # role here, and without it both the touched semi-join and the
        # untouched anti-join re-ran the full window chain over the
        # event history
        .localCheckpoint(eager=True)
    )

    # --- incremental merge for affected users only ---
    affected = delta_ev.select("user_id").distinct()
    touched_base = base_sessions.join(affected, "user_id", "left_semi")
    untouched = base_sessions.join(affected, "user_id", "left_anti")
    items = touched_base.unionByName(
        delta_ev.select(
            "user_id", us.alias("s"), us.alias("e"), F.lit(1).cast("bigint").alias("n")
        )
    )
    wi = Window.partitionBy("user_id").orderBy("s", "e")
    run_end = F.max("e").over(
        Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    flagged = items.select(
        "user_id",
        "s",
        "e",
        "n",
        F.when(run_end.isNull() | (F.col("s") > run_end + gap_us), 1)
        .otherwise(0)
        .alias("st"),
    )
    wrun2 = wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged = (
        flagged.select(
            "user_id", "s", "e", "n", F.sum("st").over(wrun2).alias("island")
        )
        .groupBy("user_id", "island")
        .agg(
            F.min("s").alias("s"),
            F.max("e").alias("e"),
            F.sum("n").cast("bigint").alias("n"),
        )
        .drop("island")
    )
    return untouched.unionByName(merged).select(
        "user_id",
        F.timestamp_micros(F.col("s")).alias("session_start"),
        F.timestamp_micros(F.col("e")).alias("session_end"),
        F.col("n").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# W7: rolling exact median (order-statistic window)
# ---------------------------------------------------------------------------

_W7_ORACLE = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
       median(cents) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_cents
FROM v
"""


@query("w7_rolling_median", section="W3", oracle=_W7_ORACLE)
def w7_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median over the trailing 7 events per user — the
    robust smoother (unlike the W3 moving mean, one spiked purchase
    cannot drag it).  An order statistic has no incremental
    accumulator, so the frame is deliberately ROWS-bounded: each
    evaluation sorts O(7), total O(n·w log w) per key, embarrassingly
    parallel across users.

    Cross-engine exactness: the median interpolates the two middle
    values on even counts — on DOUBLES that midpoint can differ in the
    last ulp between engines' formulas, so the value is integer CENTS
    first: (a+b)/2 of two bigints is exactly representable and both
    engines' interpolations collapse to the same double.  (Spark
    rejects ``median`` with an explicit frame; ``percentile(x, 0.5)``
    is the same exact order statistic and frames fine.)"""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return e.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.expr("percentile(CAST(round(value * 100) AS BIGINT), 0.5)")
        .over(w)
        .alias("med_cents"),
    )


# ---------------------------------------------------------------------------
# TS17: seasonal-naive forecast backtest (MASE)
# ---------------------------------------------------------------------------

_TS17_SEASON = 7  # weekly seasonality on daily series

_TS17_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, x,
         lag(x, {_TS17_SEASON}) OVER w AS x_season,
         lag(x, 1) OVER w AS x_prev
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(SUM(abs(x - x_season)) AS BIGINT) AS ae_seasonal,
       CAST(SUM(abs(x - x_prev)) AS BIGINT) AS ae_naive,
       CAST(SUM(abs(x - x_season)) AS DOUBLE)
         / CAST(SUM(abs(x - x_prev)) AS DOUBLE) AS mase
FROM lagged
WHERE x_season IS NOT NULL AND x_prev IS NOT NULL
GROUP BY event_type
"""


@query("ts17_mase_backtest", section="TS4", oracle=_TS17_ORACLE)
def ts17_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: score the SEASONAL-NAIVE forecast (value
    one week ago) against the random-walk baseline with MASE — the
    scale-free forecast-quality metric (Hyndman–Koehler 2006) every
    capacity-planning pipeline reports before trusting a model.
    MASE < 1 means weekly seasonality genuinely predicts the series.

    Exactness: both absolute-error sums are BIGINTs over integer daily
    counts; MASE is one shared double division.  Scale shape: the
    day-grain aggregate collapses event volume; two lag windows ride
    ONE series-partitioned sort."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", _TS17_SEASON).over(w).alias("x_season"),
        F.lag("x", 1).over(w).alias("x_prev"),
    ).filter(F.col("x_season").isNotNull() & F.col("x_prev").isNotNull())
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.sum(F.abs(F.col("x") - F.col("x_season"))).cast("bigint").alias("ae_seasonal"),
        F.sum(F.abs(F.col("x") - F.col("x_prev"))).cast("bigint").alias("ae_naive"),
        (
            F.sum(F.abs(F.col("x") - F.col("x_season"))).cast("double")
            / F.sum(F.abs(F.col("x") - F.col("x_prev"))).cast("double")
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# ML14: hashing-trick featurization + linear scoring
# ---------------------------------------------------------------------------

_ML14_BUCKETS = 1024
_ML14_WSCALE = 1_000_000


_ML14_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
), feat AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 6))::BIGINT % {_ML14_BUCKETS} AS bucket
  FROM tok
), wtab AS (
  SELECT bucket,
         CAST(round((CAST(('0x' || substr(md5(CAST(bucket AS VARCHAR)), 1, 13))::BIGINT
                          AS DOUBLE) / {float(1 << 52)!r} - 0.5)
                    * 2 * {_ML14_WSCALE}) AS BIGINT) AS w_int
  FROM (SELECT unnest(generate_series(0, {_ML14_BUCKETS - 1})) AS bucket)
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(w.w_int) AS BIGINT) AS score_scaled,
       CAST(SUM(w.w_int) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * {float(_ML14_WSCALE)!r}) AS score
FROM feat f JOIN wtab w USING (bucket)
GROUP BY f.doc_id
"""


@query("ml14_feature_hash_score", section="ML2", oracle=_ML14_ORACLE)
def ml14_feature_hash_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009) + linear model
    inference: tokens hash into {NB} weight buckets (no vocabulary
    dictionary to build, ship, or keep consistent — the property that
    makes it THE featurizer for high-cardinality text at scale), and
    each document scores as the mean bucket weight.

    The weight table is deterministic (md5 of the bucket id — the dq3
    replayable idiom standing in for trained weights, so the oracle
    replays inference bit-for-bit) and broadcast-joined onto the
    token stream.  Weights are INTEGER-quantized (×1e6) so the
    per-document accumulation is an exact BIGINT sum — a double
    Σweights would be accumulation-order-dependent — with one shared
    division at the end.  Scale shape: explode → broadcast join →
    doc-keyed partial-agg sum; no vocabulary state anywhere."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    feat = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("token"), 1, 6), 16, 10).cast("bigint")
            % _ML14_BUCKETS
        ).alias("bucket"),
    )
    wtab = spark.range(0, _ML14_BUCKETS).select(
        F.col("id").alias("bucket"),
        F.round(
            (
                F.conv(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 13), 16, 10
                )
                .cast("bigint")
                .cast("double")
                / F.lit(float(1 << 52))
                - F.lit(0.5)
            )
            * 2
            * _ML14_WSCALE
        )
        .cast("bigint")
        .alias("w_int"),
    )
    return (
        feat.join(F.broadcast(wtab), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("w_int").cast("bigint").alias("score_scaled"),
            # NO 6dp round: score_scaled/n lands EXACTLY on .5
            # decimal boundaries (130027.5/1e6 at sf0.1), where Spark
            # rounds the shortest-repr decimal and DuckDB the binary
            # value — the verify-skill round() trap.  The raw division
            # of identical integers is bit-identical instead.
            (
                F.sum("w_int").cast("double")
                / (F.count("*").cast("double") * F.lit(float(_ML14_WSCALE)))
            ).alias("score"),
        )
    )
