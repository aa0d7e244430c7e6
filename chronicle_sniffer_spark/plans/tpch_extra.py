"""Remaining TPC-H plan shapes expressible over the reduced testdata
schema (Q12/Q19/Q21 are adapted to the available columns, keeping
their plan shape intact; Q2/Q9/Q11/Q16/Q20 — which need ``partsupp``
— live in :mod:`plans.partsupp` over a deterministically DERIVED
partsupp both engines build identically).

These complete the join/decorrelation surface of SURVEY.md §2B (J2,
J5, A6, P3, scalar subqueries): self-joined nation pairs with a
disjunctive pair predicate (Q7), a double-dim market-share ratio (Q8),
two-channel conditional counts (Q12), view + scalar-max equality
(Q15), OR-of-ANDs join predicates that Catalyst must still push down
(Q19), and the EXISTS / NOT-EXISTS self-join cascade (Q21) — the same
semi/anti machinery the reference uses for its closed-file detection
(`sniffer/sniffer_entrypoint.sh:160-177`), at relational depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import (
    O_DISC_PRICE,
    disc_price_dec,
    dsum_dec,
    o_dsum_dec,
    query,
)
from chronicle_sniffer_spark.tables import load_table


@query(
    "j2e_q7_nation_volume",
    section="J2",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {o_dsum_dec(O_DISC_PRICE, "revenue")}
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def j2e_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation dim joined twice under different
    roles, with a *disjunctive pair* predicate that can only be applied
    after both joins.  Both nation sides broadcast; the fact-side joins
    shuffle on their keys and AQE picks strategies."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        load_table(spark, sf_dir, "supplier")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(load_table(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(load_table(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum_dec(disc_price_dec(), "revenue"))
    )


@query(
    "j2f_q8_market_share",
    section="J2",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nat = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END)
                AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM (
      SELECT year(o_orderdate) AS o_year, {O_DISC_PRICE} AS volume, n2.n_name AS nat
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND s_nationkey = n2.n_nationkey
        AND r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
    )
    GROUP BY o_year
    """,
)
def j2f_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way join (nation twice — customer side routes
    through region, supplier side feeds the share split) finished by a
    conditional-aggregate ratio.  The exact-decimal volume makes the
    double division bit-identical across engines."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nat")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    vol = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(load_table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load_table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            disc_price_dec().alias("volume"),
            F.col("nat"),
        )
    )
    total = F.sum("volume").cast("double")
    dec0 = F.lit(0).cast("decimal(18,4)")
    share = F.sum(F.when(F.col("nat") == "NATION_3", F.col("volume")).otherwise(dec0)).cast(
        "double"
    )
    return vol.groupBy("o_year").agg(
        (share / total).alias("mkt_share"), total.alias("total_volume")
    )


@query(
    "a6b_q12_late_priority",
    section="A6",
    oracle="""
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                THEN 'late' ELSE 'ontime' END AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY ship_bucket
    """,
)
def a6b_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to the reduced schema (no
    l_shipmode/l_receiptdate): lateness = ship lag over 90 days, and
    the classic two-channel conditional counts split by order
    priority.  Exercises join + CASE-split aggregation in one pass
    (map-side partials on both channels)."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "late"
            )
            .otherwise("ontime")
            .alias("ship_bucket")
        )
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "sq3_q15_top_supplier",
    section="SQ",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {o_dsum_dec(O_DISC_PRICE, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def sq3_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: an aggregated view consumed twice — once
    joined to the dim, once reduced to a scalar max the outer query
    filters against.  Equality on doubles is safe because both sides
    come from the same exact-decimal sum.  The view is computed once
    and reused (Spark re-plans it per use; at 100 TB persist/cache the
    revenue view or let AQE reuse the exchange)."""
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum_dec(disc_price_dec(), "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        load_table(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "p3c_q19_disjunctive_join",
    section="P3",
    oracle=f"""
    SELECT {o_dsum_dec(O_DISC_PRICE, "revenue")}, count(*) AS n_lines
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 21)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 10 AND l_quantity <= 30)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity >= 20 AND l_quantity <= 40))
    """,
)
def p3c_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted: no p_container/l_shipmode): an
    OR-of-ANDs predicate spanning both join sides.  Catalyst extracts
    the common `p_partkey = l_partkey` conjunct as the join key and
    derives per-side disjunction bounds (p_brand IN (...), l_quantity
    ranges) it can push below the join — the plan to check at scale."""
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
        | (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
        | (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(load_table(spark, sf_dir, "part")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg(
            dsum_dec(disc_price_dec(), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "j5c_q21_waiting_supplier",
    section="J5",
    oracle="""
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey, l_shipdate
      FROM lineitem, orders, supplier, nation
      WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'
        AND s_suppkey = l_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_5'
    )
    SELECT s_name, count(*) AS numwait
    FROM l1, supplier
    WHERE s_suppkey = l1.l_suppkey
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def j5c_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted to l_shipdate (no l_receiptdate):
    suppliers from one nation whose line was the strictly-latest
    shipment in a multi-supplier finished order.  The correlated
    EXISTS becomes a left-semi self-join and the NOT EXISTS a
    left-anti self-join — the reference's closed-file anti-membership
    pattern (`sniffer_entrypoint.sh:160-177`) at full relational
    depth.  Both self-joins shuffle lineitem on l_orderkey once each;
    at 100 TB bucket lineitem by l_orderkey so neither re-shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(s.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("sd3"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3"))
            & (F.col("sd3") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            load_table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
