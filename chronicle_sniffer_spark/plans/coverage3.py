"""Catalog entries: subquery decorrelation, pivot/unpivot, and
deterministic sampling.

The reference has no subqueries at all (SURVEY.md §2A "not present");
these rows exercise the Catalyst paths a real analytics user hits
immediately — EXISTS/NOT-EXISTS decorrelation into semi/anti joins,
correlated scalar subqueries into aggregated joins, pivot into a
map-side conditional aggregate — all shapes that must stay
shuffle-minimal at 100 TB (a decorrelated EXISTS is one semi join, not
a per-row probe).

Determinism notes follow catalog.py: scalar thresholds computed with
exact decimal sums so Spark and DuckDB agree bit-for-bit before any
comparison; LIMIT always carries a full tie-breaking ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import (
    O_DISC_PRICE,
    disc_price_dec,
    dsum_dec,
    query,
    sql_query,
)
from chronicle_sniffer_spark.tables import load_table


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# exact decimal average, identical text in Spark SQL and DuckDB
def _o_davg(expr: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({expr}))"


# TPC-H Q4 shape: correlated EXISTS with an extra range predicate.
# Catalyst decorrelates into a single left-semi join on l_orderkey
# (shipdate > orderdate rides along as the join condition) — one
# shuffle, no per-row subquery.
sql_query(
    "j4b_q4_exists",
    section="J4",
    text="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM {orders} o
    WHERE o.o_orderdate >= DATE '1995-01-01' AND o.o_orderdate < DATE '1995-04-01'
      AND EXISTS (SELECT 1 FROM {lineitem} l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)


# TPC-H Q13 shape: outer join preserved under a two-level
# aggregate (customers with zero orders must appear as c_count=0).
sql_query(
    "j3b_q13_custdist",
    section="J3",
    text="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM {customer} c LEFT JOIN {orders} o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)


# TPC-H Q18 shape: IN over an aggregated-HAVING subquery becomes a
# semi join against the grouped lineitem — the group-by and the semi
# probe share the l_orderkey shuffle.
sql_query(
    "a9b_q18_large_orders",
    section="A9/J2",
    text="""
    SELECT c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey
                    JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM {lineitem}
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c_name, c.c_custkey, o.o_orderkey, o_orderdate, o_totalprice
    """,
)


# Uncorrelated scalar subquery in both WHERE and SELECT — planned
# as a one-row broadcast, evaluated once.  The average goes through
# exact decimal sums so the 1.8x threshold is engine-identical.
sql_query(
    "sq1_scalar_subquery",
    section="J4/A1",
    text=f"""
    SELECT o_orderkey, o_totalprice,
           o_totalprice / (SELECT {_o_davg("o_totalprice")} FROM {{orders}}) AS price_ratio
    FROM {{orders}}
    WHERE o_totalprice > 1.8 * (SELECT {_o_davg("o_totalprice")} FROM {{orders}})
    """,
)


# TPC-H Q17 shape: correlated scalar aggregate subquery.
# Catalyst decorrelates into an aggregate-then-join on l_partkey; the
# per-part average is computed once per key, not once per probe row.
sql_query(
    "sq2_q17_correlated",
    section="J4/A1",
    text=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_qty_revenue,
           count(*) AS n_small
    FROM {{lineitem}} l JOIN {{part}} p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT CAST(0.2 AS DOUBLE) * {_o_davg("l2.l_quantity")}
                          FROM {{lineitem}} l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)


# TPC-H Q22 shape (adapted: no c_phone column in the testdata, and
# every customer has orders — the anti condition is 'no URGENT
# order').  NOT EXISTS decorrelates to a left-anti join; the scalar
# average broadcasts.
sql_query(
    "j5b_q22_anti_subquery",
    section="J5",
    text=f"""
    SELECT c_nationkey, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM {{customer}} c
    WHERE c_acctbal > (SELECT {_o_davg("c_acctbal")} FROM {{customer}} WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM {{orders}} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)


@query(
    "j2d_q10_returned_revenue",
    section="J2/O1",
    oracle=f"""
    SELECT c.c_custkey, c_name, n_name,
           CAST(SUM({O_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    GROUP BY c.c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def j2d_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue top-20.  The fact-side
    filters (returnflag, date) reach the parquet scan; nation
    broadcasts; the final top-k is TakeOrderedAndProject (no global
    sort materialization)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(c.c_custkey, "c_name", "n_name")
        .agg(dsum_dec(disc_price_dec(), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "o7_pivot",
    section="A6/O6",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def o7_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list — compiles to one map-side
    conditional aggregate (no extra shuffle per pivot column)."""
    o = load_table(spark, sf_dir, "orders")
    piv = o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


@query(
    "o8_unpivot",
    section="P9/O4",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey <= 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def o8_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt: wide measures to (measure, value) rows — a
    narrow map-only transform (no shuffle)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@query(
    "p13_deterministic_sample",
    section="P6/P3",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def p13_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 hash-sample: md5 of the key, not
    TABLESAMPLE, so the sampled set is stable across engines, runs,
    and partitionings — the reproducible-subset primitive a training
    pipeline needs for held-out splits."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0").select(
        "o_orderkey", "o_totalprice"
    )


# percent_rank / cume_dist: rank-arithmetic doubles, IEEE-identical
# across engines (no float accumulation).
sql_query(
    "w1c_distribution_ranks",
    section="W1",
    text="""
    SELECT s_suppkey, s_nationkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cdist
    FROM {supplier}
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)


@query(
    "a11_min_by_max_by",
    section="A6/A7",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000
                           + c_custkey) AS richest,
           arg_min(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000000
                           + c_custkey) AS poorest
    FROM customer GROUP BY c_nationkey
    """,
)
def a11_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates (the 'row for the extreme value'
    pattern without a window+filter).  Tie-break folded into one exact
    BIGINT key: (acctbal, custkey) — via DECIMAL so Spark's
    truncating double→int cast and DuckDB's rounding one never see a
    fraction; DuckDB's arg_max can't order by a struct."""
    c = load_table(spark, sf_dir, "customer")
    key = (
        F.col("c_acctbal").cast("decimal(18,2)") * 100
    ).cast("bigint") * 10000000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
    )


@query(
    "a7b_listagg",
    section="A7",
    oracle="""
    SELECT o_custkey,
           string_agg(o_orderpriority, ',' ORDER BY o_orderpriority, o_orderkey) AS prios
    FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
    """,
)
def a7b_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP / string_agg)
    — deterministic via a full ORDER BY inside the aggregate."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_custkey,
               listagg(o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority, o_orderkey) AS prios
        FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
        """
    )


# Edit distance + positional split + reverse/repeat — the string
# surface fuzzy matching and feature extraction lean on.
sql_query(
    "p6c_string_edit",
    section="P6",
    text="""
    SELECT c_custkey,
           levenshtein(c_mktsegment, 'BUILDING') AS edit_dist,
           split_part(c_name, '#', 2) AS name_tail,
           reverse(c_mktsegment) AS rev,
           repeat(left(c_mktsegment, 2), 2) AS rep
    FROM {customer} WHERE c_custkey <= 200
    """,
)


@query(
    "p7b_calendar_arith",
    section="P7",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           quarter(o_orderdate) AS qtr,
           dayofyear(o_orderdate) AS doy,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def p7b_calendar_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: month-add with end-of-month clamping,
    last_day, quarter/day-of-year extraction, ISO week truncation.

    Calendar results surface as TIMESTAMP, not DATE: Spark DateType
    arrives in pandas as datetime.date objects while DuckDB DATE
    becomes datetime64, so a pandas-based hasher (the driver's) sees
    different representations of identical values.  TIMESTAMP maps to
    datetime64 from both engines."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.add_months(F.col("o_orderdate"), 3).cast("timestamp").alias("plus3m"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_trunc("week", "o_orderdate").alias("week_start"),
    )
