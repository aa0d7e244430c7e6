"""Round-8 catalog additions, sixth wave.

- **P20 SQL scripting**: Spark 4's procedural SQL (BEGIN/END, DECLARE,
  WHILE) driving a real parameter-search loop — each iteration is a
  full declarative aggregate, the script only sequences them.  The
  oracle computes the same search closed-form, proving the loop's
  fixed point.
- **ML10 lift/gains table**: cumulative-capture and lift per score
  decile, computed entirely on the distinct-score HISTOGRAM (the ml8
  trick) — deciles from integer cumulative counts, every ratio a
  single division of exact integers.
- **U14 pandas UDAF as a WINDOW function**: the Arrow-vectorized
  grouped aggregate (U4) evaluated over a bounded ROWS frame — custom
  Python aggregation logic with windowed semantics, frame-bounded so
  each evaluation sees O(frame) rows.

House determinism rules (plans/catalog.py) apply.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.graph import _COPURCHASE_CTES, _copurchase_edges
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# P20: SQL scripting (procedural parameter search)
# ---------------------------------------------------------------------------

_P20_BASE_W = 1000  # starting bucket width; doubles each iteration
_P20_MAX_K = 20

_P20_ORACLE = f"""
WITH ks AS (
  SELECT unnest(generate_series(0, {_P20_MAX_K})) AS k
), per_k AS (
  SELECT ks.k,
         max(cnt) AS max_cnt,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM ks, LATERAL (
    SELECT CAST(floor(o_totalprice / ({_P20_BASE_W} * pow(2, ks.k))) AS BIGINT)
             AS b,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
  )
  GROUP BY ks.k
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
SELECT CAST(k AS INT) AS k,
       CAST({_P20_BASE_W} * pow(2, k) AS BIGINT) AS width,
       n_buckets,
       CAST(max_cnt AS BIGINT) AS max_bucket
FROM per_k, tot
WHERE max_cnt * 4 >= n
ORDER BY k LIMIT 1
"""


@query("p20_sql_scripting", section="P1", oracle=_P20_ORACLE)
def p20_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procedural SQL (Spark 4 scripting): a WHILE loop doubles a
    histogram's bucket width until the fullest bucket holds at least a
    quarter of the rows — the auto-tuning search every "pick a sane
    bin width" tool runs, written as BEGIN/DECLARE/WHILE around full
    declarative aggregates.

    The script only SEQUENCES queries — each iteration is one
    hash-aggregate job that Catalyst plans normally, so nothing about
    the loop harms scale (iterations are O(log range), each a plain
    scan+agg; the loop state is two scalar variables on the driver,
    exactly like the iterative ML entries' driver loops but expressed
    in pure SQL).  The oracle evaluates ALL candidate widths at once
    and picks the fixed point closed-form — equality proves the loop
    terminates at the right k.  The relative (quarter-of-rows) cap
    keeps the answer scale-invariant.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
BEGIN
  DECLARE k INT DEFAULT 0;
  DECLARE width BIGINT DEFAULT {_P20_BASE_W};
  DECLARE n_total BIGINT;
  DECLARE max_cnt BIGINT;
  DECLARE n_buckets BIGINT;
  SET n_total = (SELECT count(*) FROM orders);
  lp: LOOP
    SET (max_cnt, n_buckets) = (
      SELECT max(cnt), count(*) FROM (
        SELECT count(*) AS cnt FROM orders
        GROUP BY CAST(floor(o_totalprice / width) AS BIGINT)));
    IF max_cnt * 4 >= n_total OR k >= {_P20_MAX_K} THEN
      LEAVE lp;
    END IF;
    SET k = k + 1;
    SET width = width * 2;
  END LOOP;
  SELECT k AS k, width AS width,
         n_buckets AS n_buckets, max_cnt AS max_bucket;
END
"""
    )


# ---------------------------------------------------------------------------
# ML10: lift / cumulative-gains table from the score histogram
# ---------------------------------------------------------------------------

_ML10_ORACLE = """
WITH scored AS (
  SELECT (lang = 'en') AS label,
         0.5 + 0.5 * ((n_chars - 300) / 80.0)
                   / (1 + abs((n_chars - 300) / 80.0)) AS p
  FROM documents
), hist AS (
  SELECT p,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM scored GROUP BY p
), run AS (
  SELECT n, n_pos,
         COALESCE(SUM(n) OVER (
           ORDER BY p DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS cum_before
  FROM hist
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(n_pos) AS BIGINT) AS pp
  FROM hist
), dec AS (
  SELECT CAST(cum_before * 10 // nn AS INT) AS decile, n, n_pos
  FROM run, tot
)
SELECT decile,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_pos) * (SELECT nn FROM tot) AS DOUBLE)
         / (SUM(n) * (SELECT pp FROM tot)) AS lift
FROM dec GROUP BY decile
"""


@query("ml10_lift_table", section="ML3", oracle=_ML10_ORACLE)
def ml10_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift table (cumulative-gains deciles): bucket the population by
    descending score into tenths and report each bucket's positive
    rate relative to the base rate — the targeting-quality report
    behind every "top decile captures X% of converters" claim.

    Like ml8, everything runs on the distinct-score HISTOGRAM: decile
    assignment comes from integer cumulative counts over distinct
    scores (rows sharing a score land in the decile their cumulative
    START position selects — grouped-tie semantics, identical on both
    engines because the tie-group is atomic), and lift is ONE division
    of two exact integer products.  No corpus-sized sort, no
    row-by-row rank: the ordered pass is distinct-values-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 300) / 80.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))
    scored = d.select((F.col("lang") == "en").alias("label"), p.alias("p"))
    hist = scored.groupBy("p").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    w = Window.orderBy(F.col("p").desc()).rowsBetween(Window.unboundedPreceding, -1)
    run = hist.select(
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_before"),
    )
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_pos").cast("bigint").alias("pp"),
    )
    dec = run.crossJoin(F.broadcast(tot)).select(
        (F.col("cum_before") * 10 / F.col("nn"))
        .cast("bigint")
        .cast("int")
        .alias("decile"),
        "n",
        "n_pos",
        "nn",
        "pp",
    )
    return dec.groupBy("decile").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        (
            (F.sum("n_pos") * F.first("nn")).cast("double")
            / (F.sum("n") * F.first("pp"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# U14: pandas UDAF evaluated over a bounded window frame
# ---------------------------------------------------------------------------

_U14_ORACLE = """
WITH e AS (
  SELECT event_id, user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
         value, CAST(event_id % 5 + 1 AS DOUBLE) AS wgt
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id,
       SUM(value * wgt) OVER w / SUM(wgt) OVER w AS wavg_4
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


@query("u14_pandas_window_udaf", section="U4", oracle=_U14_ORACLE)
def u14_pandas_window_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDAF evaluated as a WINDOW function over
    a bounded ROWS frame: a trailing 4-purchase weighted
    average per user — custom Python aggregation with windowed
    semantics (U4 ran the same UDAF over groupBy; this is the sliding
    form).  Scoped to the purchase stream deliberately: a bounded-frame
    pandas UDAF pays one Arrow evaluation PER ROW (O(rows x frame)
    Python work — the 'UDFs are the slow path' tax made visible), so
    you aim it at the value-bearing slice, and the 10x-cheaper pure-SQL
    frame (the oracle's form, w5's machinery) at full volume.

    Scale/exactness notes: the frame is BOUNDED, so each evaluation
    materializes O(frame) rows into Arrow, partitioned by user
    (parallel across keys).  The SQL oracle reproduces the arithmetic
    exactly because a ≤4-element frame is summed in identical frame
    order by pandas and the window engine (same operands, same order →
    identical IEEE doubles); unbounded float UDAF frames would need
    the decimal discipline instead.
    """
    # pd is imported at module level: pandas_udf resolves the stringized
    # type hints (from __future__ import annotations) against module globals
    @F.pandas_udf("double")
    def wavg(v: pd.Series, w: pd.Series) -> float:
        ws = float(w.sum())
        return float((v * w).sum() / ws) if ws else float("nan")

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
        (F.col("event_id") % 5 + 1).cast("double").alias("wgt"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, 0)
    )
    return e.select(
        "event_id", wavg(F.col("value"), F.col("wgt")).over(w).alias("wavg_4")
    )


# ---------------------------------------------------------------------------
# DQ8: in-flight pipeline metrics via observe()
# ---------------------------------------------------------------------------

_DQ8_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_quantity > 5
GROUP BY l_returnflag
"""


@query("dq8_observe_pipeline", section="DQ1", oracle=_DQ8_ORACLE)
def dq8_observe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup with an ``observe()`` observation attached
    mid-pipeline: row count, null count, and an exact-decimal revenue
    checksum ride the SAME job as free accumulator metrics — data
    quality accounting with ZERO extra passes over the data (the
    alternative, a second validation scan, doubles the read at 100 TB).

    The query result (the oracle-checked part) is unchanged by the
    observation; tests/test_round8e.py drives the observation and
    proves the collected metrics equal an independent second pass —
    and that the checksum metric equals the sum of the returned
    revenue column, i.e. the metrics describe exactly the rows that
    flowed through.
    """
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 5)
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").isNull().cast("int")).alias("null_prices"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("revenue_checksum"),
    )
    return observed.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# L8: preference-pair construction (chosen/rejected)
# ---------------------------------------------------------------------------

_L8_K = 3

_L8_ORACLE = f"""
WITH scored AS (
  SELECT lang, doc_id,
         0.5 + 0.5 * ((n_chars - 300) / 80.0)
                   / (1 + abs((n_chars - 300) / 80.0)) AS p
  FROM documents
), r AS (
  SELECT lang, doc_id, p,
         row_number() OVER (PARTITION BY lang ORDER BY p DESC, doc_id) AS rk_top,
         row_number() OVER (PARTITION BY lang ORDER BY p ASC, doc_id) AS rk_bot
  FROM scored
)
SELECT t.lang, CAST(t.rk_top AS INT) AS pair_rank,
       t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
       t.p - b.p AS margin
FROM (SELECT * FROM r WHERE rk_top <= {_L8_K}) t
JOIN (SELECT * FROM r WHERE rk_bot <= {_L8_K}) b
  ON t.lang = b.lang AND t.rk_top = b.rk_bot
WHERE t.doc_id <> b.doc_id
"""


@query("l8_preference_pairs", section="L6", oracle=_L8_ORACLE)
def l8_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction: per group (language), pair the
    i-th best-scored document with the i-th worst (i <= {k}) into
    (chosen, rejected, margin) rows — the data-side step of preference
    tuning (DPO/RLHF reward modeling), where pairs need a clear
    quality margin and deterministic provenance.

    Scale shape: two ranking windows over the SAME per-group
    partitioning (one shuffle), a self-join on (group, rank) — rank is
    unique per group so the join is 1:1 and tiny — and a guard that
    drops degenerate pairs (a group too small for the chosen and
    rejected side to differ).  The score is the ml7 rational sigmoid
    (IEEE-exact both engines), ties fully keyed by doc_id; the margin
    is a single subtraction of identical doubles.
    """
    d = load_table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 300) / 80.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))
    scored = d.select("lang", "doc_id", p.alias("p"))
    w_top = Window.partitionBy("lang").orderBy(F.col("p").desc(), F.col("doc_id"))
    w_bot = Window.partitionBy("lang").orderBy(F.col("p").asc(), F.col("doc_id"))
    r = scored.select(
        "lang",
        "doc_id",
        "p",
        F.row_number().over(w_top).alias("rk_top"),
        F.row_number().over(w_bot).alias("rk_bot"),
    )
    t = r.filter(F.col("rk_top") <= _L8_K).select(
        "lang",
        F.col("rk_top").cast("int").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc"),
        F.col("p").alias("p_top"),
    )
    b = r.filter(F.col("rk_bot") <= _L8_K).select(
        "lang",
        F.col("rk_bot").cast("int").alias("pair_rank"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("p").alias("p_bot"),
    )
    return (
        t.join(b, ["lang", "pair_rank"])
        .filter(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "lang",
            "pair_rank",
            "chosen_doc",
            "rejected_doc",
            (F.col("p_top") - F.col("p_bot")).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# P21: IDENTIFIER clause (injection-safe dynamic SQL structure)
# ---------------------------------------------------------------------------

_P21_ORACLE = """
SELECT o_orderpriority AS k,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


@query("p21_identifier_clause", section="P1", oracle=_P21_ORACLE)
def p21_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic SQL STRUCTURE through the IDENTIFIER clause: the table
    AND the grouping column arrive as bound parameters —
    ``IDENTIFIER(:tbl)`` / ``IDENTIFIER(:col)`` — not string-spliced
    SQL text, so a hostile value can only ever name a missing object
    (analysis error), never inject syntax.  This is the
    template-report shape (same rollup over N tables/columns) done
    safely; u10 parameterizes VALUES, this parameterizes structure.

    Plan-wise the resolved query is byte-identical to the static
    spelling — IDENTIFIER resolves at analysis time, so every pushdown
    and pruning property survives.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:col) AS k,
               count(*) AS n,
               CAST(SUM(CAST(IDENTIFIER(:col2) AS DECIMAL(18,4))) AS DOUBLE)
                 AS total
        FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:col)
        """,
        args={"tbl": "orders", "col": "o_orderpriority", "col2": "o_totalprice"},
    )


# ---------------------------------------------------------------------------
# ML11: chi-square A/B test (integer-exact until one division)
# ---------------------------------------------------------------------------

_ML11_ORACLE = """
WITH assigned AS (
  SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8' THEN 'A' ELSE 'B' END
           AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
  FROM events
), cells AS (
  SELECT CAST(SUM(CASE WHEN variant = 'A' AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN variant = 'A' AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN variant = 'B' AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN variant = 'B' AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM assigned
)
SELECT a, b, c, d,
       CAST(a + b + c + d AS DOUBLE)
         * CAST(a * d - b * c AS DOUBLE)
         * CAST(a * d - b * c AS DOUBLE)
         / (CAST((a + b) * (c + d) AS DOUBLE)
            * CAST((a + c) * (b + d) AS DOUBLE)) AS chi2
FROM cells
"""


@query("ml11_chi2_ab_test", section="ML3", oracle=_ML11_ORACLE)
def ml11_chi2_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance: users hash-split into variants
    (deterministic md5 bucketing — the same assignment every run and
    every engine, the property an experiment system actually needs),
    the metric is per-EVENT purchase rate (the unit that keeps all four
    contingency cells populated at every corpus scale; a per-user
    "ever converted" unit saturates once users have enough events),
    then the 2x2 chi-square statistic
    ``N(ad-bc)² / ((a+b)(c+d)(a+c)(b+d))``.

    Determinism: cells and every pairwise product are exact BIGINTs;
    the statistic's remaining multiplies/division run in DOUBLE with
    identical left association on both engines — identical operands,
    identical op sequence, bit-identical result (no sqrt, no libm).
    Scale shape: ONE map-side-combinable reduction straight to four
    cells — no shuffle wider than 4 numbers whatever the event volume.
    """
    e = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.md5(F.col("user_id").cast("string")) < "8", F.lit("A")
    ).otherwise(F.lit("B"))
    assigned = e.select(
        variant.alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("converted"),
    )
    cells = assigned.agg(
        F.sum(F.when((F.col("variant") == "A") & (F.col("converted") == 1), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when((F.col("variant") == "A") & (F.col("converted") == 0), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("converted") == 1), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("converted") == 0), 1).otherwise(0))
        .cast("bigint").alias("d"),
    )
    # Overflow discipline for 100 TB cell counts: every BIGINT
    # subproduct here fits 2^63 (pairwise sums ~n, pairwise products
    # ~n^2 <= ~4e12 at a billion units is still fine; n*det^2 would
    # NOT be, ~n^5) — so det and the two denominator halves stay exact
    # integers, and the remaining multiplies run in DOUBLE with the
    # SAME left association on both engines: identical operands +
    # identical op sequence = bit-identical IEEE result.
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    det = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    den1 = ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))).cast("double")
    den2 = ((F.col("a") + F.col("c")) * (F.col("b") + F.col("d"))).cast("double")
    return cells.select(
        "a", "b", "c", "d",
        (n * det * det / (den1 * den2)).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# DQ9: ordering-consistency audit (event_id vs time inversions)
# ---------------------------------------------------------------------------

_DQ9_ORACLE = """
WITH o AS (
  SELECT user_id, event_id,
         lag(event_id) OVER (
           PARTITION BY user_id
           ORDER BY CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT), event_id)
           AS prev_id
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_id IS NOT NULL AND event_id < prev_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions
FROM o GROUP BY user_id
"""


@query("dq9_order_inversions", section="DQ1", oracle=_DQ9_ORACLE)
def dq9_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering-consistency audit: per user, how often does the
    sequence number (event_id) step BACKWARD when events are replayed
    in timestamp order?  Adjacent inversions are the fingerprint of
    clock skew, producer retries, or out-of-order ingestion — the
    check a pipeline runs before trusting any sessionization or
    as-of logic downstream.

    One lag() window partitioned by user (parallel across keys; ties
    fully keyed so "adjacent" is engine-identical), one aggregate.
    At 100 TB this audit rides the same shuffle any per-user operator
    already pays.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    o = e.select(
        "user_id", "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    return o.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(
                F.col("prev_id").isNotNull() & (F.col("event_id") < F.col("prev_id")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_inversions"),
    )


# ---------------------------------------------------------------------------
# U15: Arrow-native scalar UDF
# ---------------------------------------------------------------------------

_U15_ORACLE = """
SELECT doc_id,
       upper(substring(text, 1, 12)) AS head12,
       CAST(length(text) AS BIGINT) AS n_chars2
FROM documents WHERE doc_id < 50
"""


@query("u15_arrow_scalar_udf", section="U2", oracle=_U15_ORACLE)
def u15_arrow_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE scalar UDF (Spark 4 ``arrow_udf``): the function
    receives and returns ``pyarrow.Array`` directly — no Arrow→pandas
    materialization on either edge, one less copy per batch than the
    pandas UDF (u1/u2's measured ladder), with the compute done by
    vectorized pyarrow.compute kernels in C.

    The SQL oracle (upper/substring/length built-ins) proves the
    kernels implement the same semantics — for THESE string ops the
    JVM built-ins remain the right choice in production (no Python
    worker at all); the entry exists for the ops pyarrow has and
    Catalyst lacks, where arrow_udf is now the fastest Python lane.
    """
    # pa/pc are module-level imports: arrow_udf resolves the stringized
    # type hints (from __future__ import annotations) against module globals
    @F.arrow_udf("string")
    def head12_upper(v: pa.Array) -> pa.Array:
        return pc.utf8_upper(pc.utf8_slice_codeunits(v, 0, 12))

    @F.arrow_udf("long")
    def n_chars(v: pa.Array) -> pa.Array:
        return pc.cast(pc.utf8_length(v), pa.int64())

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        head12_upper(F.col("text")).alias("head12"),
        n_chars(F.col("text")).alias("n_chars2"),
    )


# ---------------------------------------------------------------------------
# S17: corrupt-record quarantine (PERMISSIVE parse path)
# ---------------------------------------------------------------------------


def s17_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write orders as CSV text with a deterministic fraction of
    corrupted lines (o_orderkey % 101 == 0 becomes an unparseable
    token) — the arrival shape of any feed that crosses a system
    boundary as text."""

    def build() -> str:
        out = session_tmpdir("css_badcsv_orders_")
        orders = load_table(spark, sf_dir, "orders")
        line = F.when(
            F.col("o_orderkey") % 101 == 0,
            # type mismatch in a present field -> PERMISSIVE flags it
            F.concat(
                F.lit("garbage,garbage,"),
                F.format_string("%.2f", F.col("o_totalprice")),
            ),
        ).otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.format_string("%.2f", F.col("o_totalprice")),
            )
        )
        orders.select(line.alias("value")).write.mode("overwrite").text(out)
        return out

    return session_memo(spark, ("s17_badcsv", os.path.abspath(sf_dir)), build)


_S17_ORACLE = """
SELECT CAST(SUM(CASE WHEN o_orderkey % 101 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % 101 <> 0
                THEN CAST(round(o_totalprice, 2) AS DECIMAL(18,4)) END)
            AS DOUBLE) AS good_total,
       CAST(SUM(CASE WHEN o_orderkey % 101 <> 0
                THEN o_orderkey + o_custkey END) AS BIGINT) AS good_keys
FROM orders
"""


@query("s17_corrupt_record_quarantine", section="S3", oracle=_S17_ORACLE)
def s17_corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV parsing with a corrupt-record column: unparseable
    lines land in ``_corrupt`` instead of failing the job or silently
    vanishing, and the pipeline accounts for BOTH populations in one
    read — the ingest-side quarantine (dq5 is the rule-based cousin on
    already-parsed rows).

    Notes that matter at scale: the corrupt-record column is populated
    per-task during parsing, so the split costs nothing beyond the
    parse itself — BUT the CSV parser prunes to the columns the query
    references, and a pruned-away column cannot fail: a malformed-ness
    check is only as wide as the columns you touch (this entry's first
    draft aggregated only o_totalprice and measured zero corruption;
    the oracle gate caught it).  A quarantine aggregate must therefore
    reference every column it claims to validate — done here via the
    good_keys checksum.  The oracle recomputes both
    populations from the generating rule; equality proves no line was
    double-counted or lost.  Values ride through a round(...,2) on both
    sides because the CSV serialization is 2dp text.
    """
    path = s17_layout(spark, sf_dir)
    schema = "o_orderkey bigint, o_custkey bigint, o_totalprice double, _corrupt string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    good = F.col("_corrupt").isNull()
    return df.agg(
        F.sum(good.cast("int")).cast("bigint").alias("n_good"),
        F.sum((~good).cast("int")).cast("bigint").alias("n_corrupt"),
        F.sum(
            F.when(good, F.col("o_totalprice").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("good_total"),
        # referencing EVERY data column is load-bearing, not decoration:
        # the CSV parser prunes to referenced columns, and an unparsed
        # column can't fail — an aggregate touching only o_totalprice
        # saw n_corrupt = 0 because the garbage o_orderkey was never
        # parsed (found by this entry's own oracle gate)
        F.sum(F.when(good, F.col("o_orderkey") + F.col("o_custkey")))
        .cast("bigint")
        .alias("good_keys"),
    )


# ---------------------------------------------------------------------------
# U16: Arrow UDTF (vectorized partial aggregation in Python)
# ---------------------------------------------------------------------------

_U16_ORACLE = """
SELECT word, CAST(count(*) AS BIGINT) AS total
FROM (SELECT unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 50)
GROUP BY word
"""


@query("u16_arrow_udtf_wordhist", section="U5", oracle=_U16_ORACLE)
def u16_arrow_udtf_wordhist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow UDTF (Spark 4 ``arrow_udtf``): ``eval`` receives whole
    ``pyarrow.RecordBatch``es and yields ``pyarrow.Table``s — here a
    vectorized per-batch word histogram (split/flatten/value_counts,
    all C kernels), with the final GROUP BY summing the batch-local
    partials.

    This is MAP-SIDE PARTIAL AGGREGATION expressed in Python: the UDTF
    collapses each Arrow batch to its distinct words before anything
    shuffles, so the exchange carries batch-distinct partials instead
    of one row per token — the same combine discipline every built-in
    aggregate gets from Catalyst, available to custom Python logic.
    The row-at-a-time UDTF (u5) emits every token; this one never
    materializes them individually anywhere.
    """
    from chronicle_sniffer_spark.functions.udfs import register_arrow_udtf

    register_arrow_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT word, CAST(SUM(n) AS BIGINT) AS total
        FROM word_hist(TABLE(SELECT text FROM documents WHERE doc_id < 50))
        GROUP BY word
        """
    )


# ---------------------------------------------------------------------------
# G6: local clustering coefficient (per node)
# ---------------------------------------------------------------------------

_G6_ORACLE = """
WITH
""" + _COPURCHASE_CTES + """,
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), node_tri AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
), nt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM node_tri GROUP BY node
)
SELECT d.node AS user_id, d.deg,
       CAST(COALESCE(nt.n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * COALESCE(nt.n_tri, 0) AS DOUBLE)
                 / (d.deg * (d.deg - 1))
            ELSE 0.0 END AS cc
FROM deg d LEFT JOIN nt ON d.node = nt.node
"""


@query("g6_clustering_coefficient", section="G2", oracle=_G6_ORACLE)
def g6_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — how close each user's
    co-purchase neighborhood is to a clique (2·triangles(v) /
    deg(v)·(deg(v)−1)) — the per-node refinement of g2's global
    triangle count, and the standard community-tightness signal.

    Reuses g2's bounded-participation graph (the hour cap keeps edge
    volume linear in history length — operators/graph.py G2_HOUR_CAP) and its
    node-iterator join shape: triangles come from two edge self-joins
    on the CANONICAL a<b<c orientation (each triangle materializes
    once, then explodes to its three corners), degrees from one
    union-count.  Everything integer until the final cc division of
    exact ints — engine-identical.
    """

    # eager localCheckpoint, NOT cache(): the edge table feeds five
    # lazy consumers (two self-joins + the degree union), and a leaked
    # plan-keyed cache would silently serve LATER identical runs (the
    # g9 round-12 honesty finding) — the checkpoint shares the one
    # materialization within this call only
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    node_tri = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    return (
        deg.join(node_tri, "node", "left")
        .select(
            F.col("node").alias("user_id"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                (F.lit(2) * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("cc"),
        )
    )


# ---------------------------------------------------------------------------
# O16: sequence-gap detection without a global window
# ---------------------------------------------------------------------------

_O16_ORACLE = """
WITH k AS (SELECT DISTINCT o_orderkey AS id FROM orders
           WHERE o_orderkey % 97 <> 0),
s AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM k)
SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
       CAST(nxt - id - 1 AS BIGINT) AS n_missing
FROM s WHERE nxt IS NOT NULL AND nxt - id > 1
"""


@query("o16_sequence_gaps", section="O1", oracle=_O16_ORACLE)
def o16_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find every missing range in an id sequence (the "which orders
    never arrived" integrity check) with NO single-task global window.

    Adjacency in id order normally means ``lead() OVER (ORDER BY id)``
    — a global sort into one task.  Instead: ``repartitionByRange`` on
    id gives a total order ACROSS partitions; within-partition lead()
    runs under a pid-partitioned window (parallel); and the only
    cross-partition adjacencies — each partition's max to the next
    PRESENT partition's min — come from a lead() over the P-row
    boundary relation ordered by pid.  lead-over-bounds (rather than a
    join on pid+1) is deliberate: RangePartitioner may leave a middle
    partition empty, and a pid+1 equi-join would silently drop the
    seam across the hole, losing any id-gap that spans it; lead skips
    to whatever pid actually exists.  The global window this costs
    runs over <= numPartitions rows (bounded by the pid groupBy), not
    the data.  Same decomposition as a19's distributed NTILE: the
    global sort machinery without the global task.  The oracle is the
    classic global-window spelling; equality proves the partition
    seams leak no gap and invent none.
    """
    keys = (
        load_table(spark, sf_dir, "orders")
        # the synthetic key space is dense; puncture it deterministically
        # (identically in the oracle) so the detector has real gaps to find
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
    )
    npart = max(spark.sparkContext.defaultParallelism, 2)
    parted = keys.repartitionByRange(npart, "id").withColumn(
        "pid", F.spark_partition_id()
    )
    w = Window.partitionBy("pid").orderBy("id")
    inner = parted.withColumn("nxt", F.lead("id").over(w))
    bounds = parted.groupBy("pid").agg(
        F.min("id").alias("p_min"), F.max("id").alias("p_max")
    )
    wb = Window.partitionBy(F.lit(0)).orderBy("pid")
    seams = (
        bounds.withColumn("nxt", F.lead("p_min").over(wb))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("p_max").alias("id"), "nxt")
    )
    adj = inner.filter(F.col("nxt").isNotNull()).select("id", "nxt").unionByName(seams)
    return adj.filter(F.col("nxt") - F.col("id") > 1).select(
        (F.col("id") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("id") - 1).cast("bigint").alias("n_missing"),
    )
