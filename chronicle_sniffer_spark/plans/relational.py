"""Relational query surface: projection/filter (P), joins (J),
aggregation (A), windows (W), sort/set ops (O) — SURVEY.md §2B.

An entry whose oracle text Spark runs as-is is that one SQL text
(``sql_query``); Catalyst compiles it to the plan the equivalent
DataFrame calls would build (predicate pushdown, column pruning and
join-strategy selection all apply).  The rest are DataFrame builders
whose shape is the point.  Oracle SQL strings target DuckDB 1.0 over
the same parquet tables.

Scale notes (100 TB posture):
- Joins against dimension tables (`nation`, `region`) are explicitly
  `broadcast()` — no shuffle of the fact side.
- Fact⋈fact joins rely on AQE for sort-merge vs shuffled-hash and for
  skew splitting; no repartition hints that would pin a bad strategy.
- The as-of join (J8) is the union+ordered-window formulation: one
  shuffle on the key, no per-row range probe, no quadratic blowup.
- Top-k per group (W1) filters on `row_number` so Spark can use a
  per-partition windowed top-k; global sorts (O1/O2) end in `LIMIT`,
  which Spark executes as partial top-k + single-partition merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import (
    O_CHARGE,
    O_DISC_PRICE,
    disc_price_dec,
    dsum,
    dsum_dec,
    o_davg,
    o_dsum,
    o_dsum_dec,
    query,
    sql_query,
)
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# P — projection / filter / scalar expressions
# ---------------------------------------------------------------------------


# Column projection + rename (SURVEY §2B P1; generalizes ref layer
# projection json2udm_cloud.py:113-124).
sql_query(
    "p1_projection",
    section="P1",
    text="SELECT l_orderkey AS ok, l_linenumber AS ln, l_quantity AS qty FROM {lineitem}",
)


# TPC-H Q6-shaped predicate filter; filters push to the parquet scan.
sql_query(
    "p3_filter_q6",
    section="P3",
    text=f"""
    SELECT count(*) AS n,
           {o_dsum_dec("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))", "revenue")}
    FROM {{lineitem}}
    WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)


# Conditional expression (CASE chain, ref R15-R17).
sql_query(
    "p4_case_buckets",
    section="P4",
    text="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 100000 THEN 'big'
                WHEN o_totalprice > 10000 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM {orders}
    """,
)


@query(
    "p5_casts",
    section="P5",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber AS BIGINT) AS ln_big,
           CAST(floor(l_quantity) AS INTEGER) AS qty_int,
           TRY_CAST(l_returnflag AS INTEGER) AS rf_int,
           CAST(l_orderkey AS VARCHAR) AS ok_str
    FROM lineitem
    """,
)
def p5_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts & try-casts (ref R16 string→int coercions)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("bigint").alias("ln_big"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.expr("try_cast(l_returnflag AS int)").alias("rf_int"),
        F.col("l_orderkey").cast("string").alias("ok_str"),
    )


@query(
    "p6_strings",
    section="P6",
    oracle="""
    SELECT c_custkey,
           upper(substring(c_name, 1, 8)) AS name_pfx,
           regexp_extract(c_name, '([0-9]+)$', 1) AS name_num,
           CAST(length(c_mktsegment) AS INTEGER) AS seg_len,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS cust_pad,
           (c_name LIKE 'Customer%') AS is_cust,
           replace(lower(c_mktsegment), 'a', '_') AS seg_repl,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_tag
    FROM customer
    """,
)
def p6_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (ref R7/R13/R24 string handling)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("name_pfx"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("name_num"),
        F.length("c_mktsegment").cast("int").alias("seg_len"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("cust_pad"),
        F.col("c_name").like("Customer%").alias("is_cust"),
        F.replace(F.lower("c_mktsegment"), F.lit("a"), F.lit("_")).alias("seg_repl"),
        F.concat("c_mktsegment", F.lit("#"), F.col("c_nationkey").cast("string")).alias("seg_tag"),
    )


@query(
    "p7_dates",
    section="P7",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-01') AS INTEGER) AS days_to,
           o_orderdate + INTERVAL 30 DAY AS due_ts
    FROM orders
    """,
)
def p7_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions (ref R13 timestamp handling, R25 latency)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.col("o_orderdate")).alias("days_to"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_ts"),
    )


# Math function battery (generalizes ref R27 histogram math).
# Transcendentals are rounded in-query to 6 dp so last-ulp libm
# differences between JVM and C++ can never flip the oracle hash.
sql_query(
    "p8_math",
    section="P8",
    text=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(round({O_DISC_PRICE}, 2) AS DOUBLE) AS disc_price,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_discount * 10) AS BIGINT) AS disc_ceil,
           round(abs(l_tax - 0.05), 6) AS tax_dev,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           l_quantity * l_quantity AS qty_sq,
           CAST(l_linenumber % 3 AS INTEGER) AS ln_mod
    FROM {{lineitem}}
    """,
)


@query(
    "p9_explode_seq",
    section="P9",
    oracle="""
    SELECT l_orderkey, CAST(unnest(generate_series(1, l_linenumber)) AS INTEGER) AS i
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def p9_explode_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array generate + explode (ref R12/R19 multi-valued extraction)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 100)
        .select("l_orderkey", F.explode(F.sequence(F.lit(1), F.col("l_linenumber"))).alias("i"))
        .withColumn("i", F.col("i").cast("int"))
    )


@query(
    "p9_array_ops",
    section="P9",
    oracle="""
    SELECT doc_id,
           array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 5), ',')
             AS first_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_words,
           list_contains(string_split(text, ' '), 'spark') AS has_spark
    FROM documents
    """,
)
def p9_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array transform/filter/sort/slice battery over document tokens."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(F.slice(F.sort_array(F.array_distinct(words)), 1, 5), ",").alias(
            "first_words"
        ),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.array_contains(words, "spark").alias("has_spark"),
    )


@query(
    "p10_maps",
    section="P10",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS prop_keys,
           json_extract_string(props, '$.k') AS k_val
    FROM events
    """,
)
def p10_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions over JSON-parsed props (ref R21 additional-map)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return e.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_val"),
    )


@query(
    "p11_json",
    section="P11",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_val,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
)
def p11_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (ref R10/R24 JSON in/out)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_val"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


# Null handling (ref R13 fallbacks, R21 null pruning).
sql_query(
    "p12_nulls",
    section="P12",
    text="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderpriority, '1-URGENT'), 'OTHER') AS prio,
           (nullif(o_orderstatus, 'F') IS NULL) AS is_f
    FROM {orders}
    """,
)


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------


@query(
    "j1_broadcast_dim",
    section="J1",
    oracle="""
    SELECT n_name, count(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def j1_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with explicit broadcast of the dimension side —
    at 100 TB the customer scan never shuffles for this join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
    )


@query(
    "j2_q3_shape",
    section="J2",
    oracle=f"""
    SELECT l_orderkey, o_orderdate, {o_dsum_dec(O_DISC_PRICE, "revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-01-01'
      AND l_shipdate  > DATE '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    """,
)
def j2_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join; AQE picks broadcast for the filtered
    customer side at small SF and sort-merge at scale."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01 00:00:00")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum_dec(disc_price_dec(), "revenue"))
    )


sql_query(
    "j3_left_outer",
    section="J3",
    text="""
    SELECT c.c_custkey
    FROM {customer} c LEFT JOIN {orders} o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey IS NULL
    """,
)


sql_query(
    "j3_full_outer",
    section="J3",
    text="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_orders,
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_customer
    FROM {customer} FULL JOIN {orders} ON c_custkey = o_custkey
    """,
)


@query(
    "j4_semi",
    section="J4",
    oracle="""
    SELECT count(*) AS n
    FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def j4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — mirrors ref processed-set membership (R4)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(F.count("*").alias("n"))


@query(
    "j5_anti",
    section="J5",
    oracle="""
    SELECT count(*) AS n
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def j5_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — mirrors ref closed-file anti-filter (R3)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").agg(F.count("*").alias("n"))


# Equi + theta residual join (equi key keeps it shuffle-hash-able;
# the range predicate is a post-join filter, not a nested loop).
sql_query(
    "j6_theta",
    section="J6",
    text="""
    SELECT count(*) AS n
    FROM {orders} o JOIN {lineitem} l
      ON o.o_orderkey = l.l_orderkey AND l.l_shipdate > o.o_orderdate
    """,
)


# Bounded cross join (dims only — never fact×fact).
sql_query(
    "j7_cross",
    section="J7",
    text="SELECT count(*) AS n FROM {region} CROSS JOIN {nation}",
)


@query(
    "j8_asof",
    section="J8",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts AS p_ts, c.ts AS click_ts, c.click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j8_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest at-or-before click.

    Spark lacks ASOF JOIN; the scalable formulation is a tagged union +
    one ordered window per key (`last(..., ignorenulls)`), which costs a
    single shuffle on `user_id` — no per-row range probe, no quadratic
    candidate join, and it streams under watermark at 100 TB.
    (DuckDB oracle uses its native ASOF LEFT JOIN.)
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        e.filter(F.col("event_type") == "click")
        # dedupe equal-ts clicks per user so "latest" is well-defined
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    tagged = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(None).cast("double").alias("c_val"),
    ).unionByName(
        clicks.select(
            "user_id",
            "ts",
            F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("c_ts"),
            F.col("click_value").alias("c_val"),
        )
    )
    # clicks (tag 0) sort before purchases (tag 1) at equal ts → "<=" semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .withColumn("click_value", F.last("c_val", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("event_id", "user_id", F.col("ts").alias("p_ts"), "click_ts", "click_value")
    )


sql_query(
    "j9_interval",
    section="J9",
    text="""
    SELECT count(*) AS n
    FROM {orders} o JOIN {lineitem} l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 7 DAY
    """,
)


# ---------------------------------------------------------------------------
# A — aggregation
# ---------------------------------------------------------------------------


# TPC-H Q1 shape — the flagship multi-measure hash aggregate
# (generalizes ref per-file counters, json2udm_cloud.py:325-348).
sql_query(
    "a1_q1_pricing_summary",
    section="A1",
    text=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum("l_quantity", "sum_qty")},
           {o_dsum("l_extendedprice", "sum_base_price")},
           {o_dsum_dec(O_DISC_PRICE, "sum_disc_price")},
           {o_dsum_dec(O_CHARGE, "sum_charge")},
           {o_davg("l_quantity", "avg_qty")},
           {o_davg("l_extendedprice", "avg_price")},
           {o_davg("l_discount", "avg_disc")},
           count(*) AS count_order
    FROM {{lineitem}}
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)


@query(
    "a2_count_distinct",
    section="A2",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio
    FROM orders
    """,
)
def a2_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
    )


@query(
    "a3_approx_distinct",
    section="A3",
    oracle="SELECT CAST(1 AS BOOLEAN) AS within_tol",
)
def a3_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx distinct, self-checked against the exact count to 5%
    (sketches differ between engines, so the oracle checks the tolerance
    flag rather than the raw estimate)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    )
    return agg.select(
        ((F.abs(F.col("approx") - F.col("exact")) / F.col("exact")) <= F.lit(0.05)).alias(
            "within_tol"
        )
    )


@query(
    "a4_percentiles",
    section="A4",
    oracle="""
    SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    """,
)
def a4_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (generalizes ref latency p95, R27/R28).
    Rounded to 4 dp: both engines interpolate the same two order
    statistics but may associate the lerp differently."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
    )


sql_query(
    "a5_rollup",
    section="A5",
    text=f"""
    SELECT l_returnflag, l_linestatus, {o_dsum("l_quantity", "sum_qty")}, count(*) AS n
    FROM {{lineitem}}
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


@query(
    "a6_filtered_agg",
    section="A6",
    oracle=f"""
    SELECT count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) AS n_total,
           {o_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", "rev_f")}
    FROM orders
    """,
)
def a6_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — the ref error-rate pattern (R23)."""
    o = load_table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    return o.agg(
        F.count(F.when(is_f, 1)).alias("n_f"),
        F.count("*").alias("n_total"),
        dsum(F.when(is_f, F.col("o_totalprice")), "rev_f"),
    )


@query(
    "a7_collect_sorted",
    section="A7",
    oracle="""
    SELECT o_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios
    FROM orders GROUP BY o_custkey
    """,
)
def a7_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set canonicalized (sorted, joined) for determinism."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("prios")
    )


# Exponential histogram bucketing — mirrors the ref's log-based
# latency distribution (growth 1.5, terraform/main.tf:540-547).
sql_query(
    "a8_exp_histogram",
    section="A8",
    text="""
    SELECT CAST(floor(ln(l_extendedprice) / ln(1.5)) AS BIGINT) AS bucket,
           count(*) AS n
    FROM {lineitem} GROUP BY 1
    """,
)


sql_query(
    "a9_having",
    section="A9",
    text="""
    SELECT o_custkey, count(*) AS n_orders
    FROM {orders} GROUP BY o_custkey HAVING count(*) > 12
    """,
)


# ---------------------------------------------------------------------------
# W — window functions
# ---------------------------------------------------------------------------


@query(
    "w1_topk_per_group",
    section="W1",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (O3); Spark pushes the rn<=3
    filter into a per-partition top-k (WindowGroupLimit)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@query(
    "w2_lag_lead",
    section="W2",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


# Moving-frame sum (decimal-exact so frame association can't drift).
sql_query(
    "w3_moving_frame",
    section="W3",
    text="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_val
    FROM {events}
    """,
)


sql_query(
    "w4_running_total",
    section="W4",
    text="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM {orders}
    """,
)


# ---------------------------------------------------------------------------
# O — sort / limit / set ops
# ---------------------------------------------------------------------------


# Global top-k: Spark plans TakeOrderedAndProject (per-partition
# heap + driver merge), never a full sort at scale.
sql_query(
    "o1_sort_limit",
    section="O1",
    text="""
    SELECT o_orderkey, o_totalprice
    FROM {orders} ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)


sql_query(
    "o2_limit_offset",
    section="O2",
    text="SELECT o_orderkey FROM {orders} ORDER BY o_orderkey LIMIT 5 OFFSET 10",
)


@query(
    "o4_union",
    section="O4",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def o4_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "o5_except",
    section="O5",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def o5_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT (distinct) semantics, unlike exceptAll


@query(
    "o5_intersect",
    section="O5",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def o5_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


sql_query(
    "o6_distinct",
    section="O6",
    text="SELECT DISTINCT o_orderpriority FROM {orders}",
)
