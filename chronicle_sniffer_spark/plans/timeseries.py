"""Catalog entries: time-series regularization and mergeable sketches.

Gap-fill/forward-fill is the standard pre-step for training on
irregular event streams (metrics, logs, sensor data): project onto a
regular grid, carry the last observation forward, flag the holes.
All JVM-side — sequence+explode for the grid, an IGNORE NULLS window
for the fill — and the grid explode is a narrow op (fan-out bounded
by the span, keyed by the same user_id the window needs, so grid +
fill share one shuffle).

The sketch entries exercise Spark's mergeable DataSketches surface
(`hll_sketch_agg`/`hll_union_agg`, `count_min_sketch`).  Mergeability
is the 100 TB property: per-partition sketches combine associatively,
so a global distinct count or heavy-hitter table never materializes
per-key sets.  Sketch binaries differ across engines, so oracles use
the a3 pattern: the checked value is a self-validated tolerance flag
(plus exact counts where exactness is the claim).

Ref tie-in: R27/R28 dashboards chart approximate percentiles and
per-minute rates from log streams — sketches are how those survive
scale; the gap-fill grid mirrors the dashboards' 60 s alignment
(`terraform/dashboards/main_operational_dashboard.json:30-38`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import DEC, query
from chronicle_sniffer_spark.tables import load_table


@query(
    "ts1_gapfill_ffill",
    section="P7/W2",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_sum
      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)
    ),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    )
    SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day, d.day_sum,
           last_value(d.day_sum IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           d.day_sum IS NULL AS is_gap
    FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
    """,
)
def ts1_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize per-user daily series: dense day grid over each
    user's span, forward-fill missing days, flag gaps."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("day_sum"))
    span = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            # TIMESTAMP, not DATE: both engines then reach the driver's
            # pandas-based hasher as datetime64 (DateType would arrive
            # as datetime.date objects from Spark only).
            F.col("day").cast("timestamp").alias("day"),
            "day_sum",
            F.last("day_sum", ignorenulls=True).over(w).alias("filled"),
            F.col("day_sum").isNull().alias("is_gap"),
        )
    )


@query(
    "a3b_hll_sketch_merge",
    section="A3",
    oracle="SELECT CAST(1 AS BOOLEAN) AS within_tol, CAST(1 AS BOOLEAN) AS merged_within_tol",
)
def a3b_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL: per-group sketches union-merged into a global
    estimate.  Both the direct estimate and the union-of-groups
    estimate must land within 5% of exact — the mergeability that
    makes the sketch shuffle-friendly.  (Union and direct paths are
    not bit-identical: the union operator re-coupons, so the check is
    a tolerance, not equality.)"""
    o = load_table(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk")
    )
    merged = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("est_merged")
    )
    direct = o.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))").alias("est_direct"),
        F.countDistinct("o_custkey").alias("exact"),
    )
    j = merged.crossJoin(direct)
    return j.select(
        ((F.abs(F.col("est_direct") - F.col("exact")) / F.col("exact")) <= 0.05).alias(
            "within_tol"
        ),
        ((F.abs(F.col("est_merged") - F.col("exact")) / F.col("exact")) <= 0.05).alias(
            "merged_within_tol"
        ),
    )


@query(
    "a3c_freq_items_heavy_hitters",
    section="A3/A8",
    oracle="SELECT CAST(1 AS BOOLEAN) AS all_heavy_found",
)
def a3c_freq_items_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass approximate heavy hitters (`freqItems`, Karp et al.)
    self-checked against exact frequencies: every key with support
    > 15% must appear in the sketch's candidate list (the algorithm's
    superset guarantee) — the primitive that replaces a full groupBy
    at 100 TB when only frequent keys matter."""
    e = load_table(spark, sf_dir, "events")
    candidates = e.stat.freqItems(["event_type"], support=0.15)
    heavy = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .crossJoin(e.agg(F.count("*").alias("total")))
        .filter(F.col("n") > 0.15 * F.col("total"))
        .select("event_type")
    )
    missing = heavy.join(
        candidates.select(F.explode("event_type_freqItems").alias("event_type")),
        "event_type",
        "left_anti",
    )
    return missing.agg((F.count("*") == 0).alias("all_heavy_found"))


@query(
    "a8b_width_bucket_histogram",
    section="A8",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 500000 THEN 21
                     ELSE floor(o_totalprice / 25000) + 1 END AS BIGINT) AS bucket,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def a8b_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear width_bucket histogram (complements a8's exponential
    buckets; the ref's latency histogram, terraform/main.tf:540-547).
    DuckDB has no width_bucket — the oracle states the same bucketing
    arithmetically (20 buckets of 25000 over [0, 500000))."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(20)).alias("bucket")
    ).agg(F.count("*").alias("n"))


@query(
    "ts2_funnel_conversion",
    section="W4/A6",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click
               FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
               WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase
               FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
               WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click,
           round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM v), 6)
             AS full_funnel_rate
    """,
)
def ts2_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click → purchase): each stage
    keeps users whose first stage-N event strictly follows their first
    stage-(N-1) event.  Three user-keyed min-aggregations chained by
    equi-joins on user_id — at 100 TB each stage is one shuffle on the
    user key with partial min combine; no window over the full event
    history and no self-join explosion (the join input is one row per
    user, not per event)."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(etype: str, prev: DataFrame, prev_col: str, alias: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_col))
            .groupBy("user_id")
            .agg(F.min("ts").alias(alias))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = first_after("click", v, "t_view", "t_click")
    p = first_after("purchase", c, "t_click", "t_purchase")
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click_after_view"))
    np_ = p.agg(F.count("*").alias("n_purchase_after_click"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            F.round(F.col("n_purchase_after_click") * 1.0 / F.col("n_view"), 6).alias(
                "full_funnel_rate"
            ),
        )
    )


@query(
    "ts3_retention_cohorts",
    section="W4/A5",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor((epoch(date_trunc('week', e.ts)) - epoch(f.cohort_week))
                        / 604800) AS INTEGER) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def ts3_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in every later week they were active (the classic cohort
    retention matrix).  The cohort dimension joins back as one row per
    user (broadcastable at realistic user counts), activity dedups on
    (user, week) before counting, and week arithmetic runs on unix
    seconds so both engines bucket identically; cohort_week stays
    TIMESTAMP (never DateType) per the catalog hashing rules."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp").alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                )
                / 604800
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(F.count("*").alias("n_users"))
