"""Shared graph fixtures of the catalog's graph entries: the capped
per-hour co-purchase graph (Spark builder and its DuckDB twin) and
the per-customer degree cap of the supplier-overlap link predictors."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table

# Per-hour participation cap for the co-purchase graph.  An UNCAPPED
# same-bucket co-occurrence graph is a scale landmine: each hour's
# purchasers form a clique, so edge volume grows quadratically — and
# wedge volume cubically — in event RATE, not data size (measured: the
# uncapped sf1 graph is ~20M edges / ~5e9 wedges and kills the soak).
# Bounded-participation sampling (keep the CAP lowest user_ids per
# hour — deterministic, engine-identical) keeps the graph
# O(hours × CAP²) = linear in history length regardless of traffic,
# which is how production co-occurrence graphs stay tractable.  CAP=6
# leaves the gate-scale graph almost untouched (sf0.01: 15 of 673
# hours capped) so the oracle exercises BOTH paths.
G2_HOUR_CAP = 6

_COPURCHASE_CTES = f"""
    pur0 AS (
      SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
      FROM events WHERE event_type = 'purchase'
    ),
    pur AS (
      SELECT h, user_id FROM (
        SELECT h, user_id,
               row_number() OVER (PARTITION BY h ORDER BY user_id) AS rk
        FROM pur0
      ) WHERE rk <= {G2_HOUR_CAP}
    ),
    edges AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM pur a JOIN pur b ON a.h = b.h AND a.user_id < b.user_id
    )
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) distinct edge set of the capped per-hour
    purchase co-occurrence graph — shared by g2 and g3; the SQL twin
    is ``_COPURCHASE_CTES``."""
    e = load_table(spark, sf_dir, "events")
    pur0 = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    wh = Window.partitionBy("h").orderBy("user_id")
    pur = (
        pur0.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") <= G2_HOUR_CAP)
        .drop("rk")
    )
    a, b = pur.alias("a"), pur.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )


# Wedge-contributing neighbors per customer: a customer contributes
# candidate wedges only among its CAP smallest suppliers
# (deterministic rank truncation).  Σ_c deg(c)² is the wedge-join
# volume — unbounded it is the power-law scale-killer (one hot
# customer with 1M suppliers = 10¹² wedges); capped it is ≤ C(CAP,2)
# per customer, so the candidate pass is LINEAR in customers with a
# CAP² constant.  The filter-and-verify split (below) keeps reported
# scores exact.
G13_DEG_CAP = 16
