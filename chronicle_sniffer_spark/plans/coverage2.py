"""Catalog entries completing §2B sub-capabilities: the full ranking
family (W1), cube + grouping sets (A5), base64/binary string functions
(P6), and a TPC-H Q5-shaped 6-way join (J2 at depth — the plan whose
join order Catalyst must get right at 100 TB)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import (
    O_DISC_PRICE,
    disc_price_dec,
    dsum_dec,
    o_dsum,
    o_dsum_dec,
    query,
    sql_query,
)
from chronicle_sniffer_spark.tables import load_table


@query(
    "w1b_ranking_variants",
    section="W1",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w1b_ranking_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four ranking functions over one window definition."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


sql_query(
    "a5b_cube",
    section="A5",
    text=f"""
    SELECT l_returnflag, l_linestatus, {o_dsum("l_quantity", "sum_qty")}, count(*) AS n
    FROM {{lineitem}}
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


sql_query(
    "a5c_grouping_sets",
    section="A5",
    text=f"""
    SELECT l_returnflag, l_linestatus, {o_dsum("l_quantity", "sum_qty")}
    FROM {{lineitem}}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)


@query(
    "p6b_base64_roundtrip",
    section="P6",
    oracle="""
    SELECT c_custkey,
           base64(CAST(c_name AS BLOB)) AS b64,
           decode(from_base64(base64(CAST(c_name AS BLOB)))) AS roundtrip,
           trim(concat('  ', c_mktsegment, '  ')) AS trimmed,
           string_split(c_name, '#')[1] AS name_head
    FROM customer WHERE c_custkey <= 100
    """,
)
def p6b_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64/unbase64 round-trip (the ref's Pub/Sub envelope decode,
    processor_app.py:120-122) + trim/split."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    b64 = F.base64(F.col("c_name").cast("binary"))
    return c.select(
        "c_custkey",
        b64.alias("b64"),
        F.unbase64(b64).cast("string").alias("roundtrip"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias("trimmed"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_head"),
    )


# TPC-H Q14 shape: fact⋈part with conditional revenue share —
# the dim side broadcasts, the CASE aggregates map-side.
sql_query(
    "j2c_q14_promo_revenue",
    section="J2/A6",
    text=f"""
    SELECT round(
             100.00 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {O_DISC_PRICE} END)
                          AS DOUBLE)
             / CAST(SUM({O_DISC_PRICE}) AS DOUBLE), 4) AS promo_revenue_pct
    FROM {{lineitem}} JOIN {{part}} ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
    """,
)


@query(
    "p9b_higher_order",
    section="P9",
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(string_split(text,' '), w -> length(w))) AS BIGINT)
             AS total_word_len,
           CAST(len(list_filter(string_split(text,' '), w -> length(w) > 4)) AS INTEGER)
             AS n_long_words,
           len(list_filter(string_split(text,' '), w -> w = 'the')) > 0 AS has_the,
           CAST(len(flatten([string_split(text,' ')[1:2], string_split(text,' ')[3:4]]))
                AS INTEGER) AS n_flat
    FROM documents
    """,
)
def p9b_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform, filter, exists,
    aggregate, flatten — all JVM-side lambdas (ref R12/R19 shapes)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.aggregate(
            F.transform(words, lambda w: F.length(w)), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total_word_len"),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("n_long_words"),
        F.exists(words, lambda w: w == "the").alias("has_the"),
        F.size(F.flatten(F.array(F.slice(words, 1, 2), F.slice(words, 3, 2)))).alias("n_flat"),
    )


@query(
    "p10b_map_transforms",
    section="P10",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
           CAST(len(json_keys(props)) AS INTEGER) + 1 AS n_keys_concat,
           CAST(len(list_filter(json_keys(props), k -> k <> 'k')) AS INTEGER) AS n_nonk,
           json_extract_string(props, '$.k') AS k_val
    FROM events
    """,
)
def p10b_map_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_filter / map_concat / map_values over parsed props (the
    ref's `additional` map surface, R21).  The oracle counts through
    JSON keys — DuckDB has no MAP literal path from JSON — so the
    checked values are the map cardinalities and a looked-up value."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    concat = F.map_concat(m, F.create_map(F.lit("extra"), F.lit("1")))
    return e.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.size(concat).alias("n_keys_concat"),
        F.size(F.map_filter(m, lambda k, v: k != "k")).alias("n_nonk"),
        F.element_at(F.map_values(m), -1).alias("k_val"),
    )


@query(
    "j2b_q5_shape",
    section="J2",
    oracle=f"""
    SELECT n_name, {o_dsum_dec(O_DISC_PRICE, "revenue")}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    GROUP BY n_name
    """,
)
def j2b_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: Catalyst reorders, broadcasts the
    region/nation dims, and AQE picks strategies for the fact joins."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum_dec(disc_price_dec(), "revenue"))
    )
