"""Round-8 catalog additions, fifth wave.

- **J17 null-safe join**: equi join under ``<=>`` semantics (NULL
  matches NULL).  The naive workaround — ``ON a.k = b.k OR (a.k IS
  NULL AND b.k IS NULL)`` — is NOT an equi predicate, so it degrades
  to a nested-loop join; Spark's ``eqNullSafe`` stays a hash-keyed
  equi join (NULL hashes like any other key value), which is the
  difference between a shuffle join and an O(n·m) disaster at 100 TB.
  Plan-asserted.  Oracle: ``IS NOT DISTINCT FROM``.
- **TS13 M4 downsampling**: the min/max/first/last-per-pixel-bucket
  operator every large-scale time-series UI uses (M4): one hash
  aggregate, every measure order-independent (first/last are lexicographic
  struct-min/max under the total key (ts, event_id), not
  position-dependent).
  Contrast with LTTB, which is inherently sequential — M4 is the
  downsampler you can run on 100 TB.
- **A20 multi-distinct expand**: several exact COUNT(DISTINCT …) over
  DIFFERENT columns in ONE aggregate.  Spark compiles this to a single
  Expand (one pass over the fact table, one row replica per distinct
  clause) instead of N separate scans + self-joins — asserted in the
  plan.  At 100 TB, one Expand pass vs N full passes is the win.

House determinism rules (plans/catalog.py) apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import dsum, o_dsum, query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# J17: null-safe equi join
# ---------------------------------------------------------------------------

_J17_ORACLE = f"""
WITH f AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k, o_totalprice FROM orders
), d AS (
  SELECT k, CAST(count(*) AS BIGINT) AS grp_total FROM f GROUP BY k
)
SELECT f.k AS prio_key, d.grp_total,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("f.o_totalprice", "sum_price")}
FROM f JOIN d ON f.k IS NOT DISTINCT FROM d.k
GROUP BY 1, 2
"""


@query("j17_null_safe_join", section="J1", oracle=_J17_ORACLE)
def j17_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a NULLABLE key with null-safe equality: the NULL group
    joins to the NULL dim row instead of silently dropping (a plain
    equi join loses every NULL-key row — here ~20% of the fact table).

    The key scale point: ``eqNullSafe`` is still an EQUI predicate —
    NULL hashes like any other key, so the join stays a hash/sort-merge
    shuffle join (plan-asserted: no nested loop).  The classic manual
    rewrite ``a.k = b.k OR (a.k IS NULL AND b.k IS NULL)`` is a theta
    predicate and degenerates to BroadcastNestedLoop — the 100 TB trap
    this entry exists to document.  Note the flip side: null-safe
    equality makes the NULL group a single join key, so a mostly-NULL
    column becomes a skew hotspot (the A10 salting pattern applies).
    """
    o = load_table(spark, sf_dir, "orders")
    f = o.select(
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("k"),
        "o_totalprice",
    )
    d = f.groupBy("k").agg(F.count("*").alias("grp_total")).withColumnRenamed(
        "k", "dk"
    )
    return (
        f.join(d, f.k.eqNullSafe(d.dk))
        .groupBy(F.col("k").alias("prio_key"), F.col("grp_total"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# TS13: M4 time-series downsampling
# ---------------------------------------------------------------------------

_TS13_BUCKET_US = 3600 * 1_000_000  # one "pixel" = one hour

_TS13_ORACLE = f"""
WITH e AS (
  SELECT event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
         event_id, value
  FROM events
)
SELECT event_type,
       CAST(ts_us // {_TS13_BUCKET_US} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       min(value) AS min_v,
       max(value) AS max_v,
       (min({{'t': ts_us, 'i': event_id, 'v': value}})).v AS first_v,
       (max({{'t': ts_us, 'i': event_id, 'v': value}})).v AS last_v
FROM e
GROUP BY 1, 2
"""


@query("ts13_m4_downsample", section="TS1", oracle=_TS13_ORACLE)
def ts13_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: per (series, time-pixel) keep min, max, first
    and last — the lossless-for-rendering reduction every large-scale
    time-series UI applies before plotting (a line through M4 points is
    pixel-identical to the full-resolution line).

    Scale shape: ONE hash aggregate; all four measures are
    order-independent (first/last are lexicographic struct-min/max under
    the TOTAL key ``(ts_us, event_id)``, never "first row seen"), so the aggregate is
    map-side combinable and associative across any partitioning —
    unlike LTTB, whose point selection is inherently sequential.
    Output is O(series × pixels) regardless of input volume: the right
    operator to put in front of a dashboard reading 100 TB of metrics.
    """
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    key = F.struct(
        F.col("ts_us").alias("t"), F.col("event_id").alias("i"), F.col("value").alias("v")
    )
    return (
        e.select("event_type", us.alias("ts_us"), "event_id", "value")
        .groupBy(
            "event_type",
            F.floor(F.col("ts_us") / _TS13_BUCKET_US).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.min(key).getField("v").alias("first_v"),
            F.max(key).getField("v").alias("last_v"),
        )
    )


# ---------------------------------------------------------------------------
# A20: multi-column exact distinct in one pass (Expand)
# ---------------------------------------------------------------------------

_A20_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@query("a20_multi_distinct_expand", section="A2", oracle=_A20_ORACLE)
def a20_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact COUNT(DISTINCT) over THREE different columns plus a
    plain count, in one aggregate.

    Spark compiles multiple distinct clauses into a single **Expand**
    operator — each input row is replicated once per distinct clause
    with the irrelevant columns nulled, then one two-level aggregate
    dedups and counts all clauses together (plan-asserted in
    tests/test_round8d.py).  The alternative — N separate
    distinct-aggregates stitched with self-joins — scans the fact table
    N times and shuffles it N times.  The Expand trades a constant
    row-replication factor for single-pass execution: at 100 TB,
    3 extra in-memory replicas beat 3 extra full scans+shuffles by the
    width of the table.  (When approximate answers suffice, A3's HLL
    sketches drop even the replication; this entry is the EXACT path.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# ML8: exact ROC AUC from the score histogram
# ---------------------------------------------------------------------------

_ML8_ORACLE = """
WITH scored AS (
  SELECT (lang = 'en') AS label,
         0.5 + 0.5 * ((n_chars - 300) / 80.0)
                   / (1 + abs((n_chars - 300) / 80.0)) AS p
  FROM documents
), hist AS (
  SELECT p,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM scored GROUP BY p
), run AS (
  SELECT n_pos, n_neg,
         COALESCE(SUM(n_neg) OVER (
           ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS cum_neg_lt
  FROM hist
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * cum_neg_lt + n_neg)) AS BIGINT) AS u2,
       SUM(n_pos * (2 * cum_neg_lt + n_neg))
         / (2.0 * SUM(n_pos) * SUM(n_neg)) AS auc
FROM run
"""


@query("ml8_auc_exact", section="ML3", oracle=_ML8_ORACLE)
def ml8_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC as the Mann-Whitney U statistic, computed from the
    SCORE HISTOGRAM instead of a global rank over every row.

    The textbook AUC ranks all N rows (a global sort — one task at
    100 TB).  But AUC only depends on how many (pos, neg) pairs are
    ordered correctly, which the per-distinct-score histogram fully
    determines: ``U = Σ_s n_pos(s) · (neg_below(s) + ½·n_neg(s))`` —
    ties counted half.  So the plan is one hash aggregate to the
    histogram (distinct-value-sized, map-side combinable) and one
    running sum over it; the only ordered pass touches the HISTOGRAM,
    never the corpus.  All arithmetic until the final division is exact
    integers (the ½ is folded into ``2·cum_neg + n_neg`` over ``2PN``),
    so both engines divide the same two integers.  Scores are the ml7
    rational sigmoid (IEEE-exact on both engines).
    """
    d = load_table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 300) / 80.0
    p = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z))
    scored = d.select((F.col("lang") == "en").alias("label"), p.alias("p"))
    hist = scored.groupBy("p").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).cast("bigint").alias("n_neg"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    run = hist.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("cum_neg_lt"),
    )
    u2 = F.sum(
        F.col("n_pos") * (F.lit(2) * F.col("cum_neg_lt") + F.col("n_neg"))
    )
    return run.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        u2.cast("bigint").alias("u2"),
        (u2 / (F.lit(2.0) * F.sum("n_pos") * F.sum("n_neg"))).alias("auc"),
    )


# ---------------------------------------------------------------------------
# U13: UDTF over a TABLE argument (PARTITION BY)
# ---------------------------------------------------------------------------

_U13_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""


@query("u13_udtf_table_argument", section="U5", oracle=_U13_ORACLE)
def u13_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY: the
    engine shuffles the input so each UDTF instance sees exactly one
    group's rows through ``eval()`` and emits its summary from
    ``terminate()`` — the Spark 4 surface for arbitrary per-group
    Python logic embedded in SQL text (the SQL-native sibling of U3's
    ``applyInPandas``).

    Scale shape: identical to any grouped shuffle — partitions are
    hash-spread by the PARTITION BY key, the Python worker streams rows
    per group (Arrow-batched), and per-group state is O(1) here.  The
    SQL oracle (a plain GROUP BY) proves the partition-routing
    delivered every row to exactly one group instance.
    """
    from chronicle_sniffer_spark.functions.udfs import register_table_arg_udtf

    register_table_arg_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT * FROM summarize_lang(TABLE(documents) PARTITION BY lang)"
    )


# ---------------------------------------------------------------------------
# S14: snapshot time travel (manifest-versioned reads)
# ---------------------------------------------------------------------------

_S14_CUT = "1998-01-01"


def snapshot_layout(spark: SparkSession, sf_dir: str) -> dict[int, list]:
    """Write an append-only orders layout in two commits and record a
    snapshot manifest: version 1 = orders before {cut}, version 2 =
    version 1 + the appended later years.  The manifest (version ->
    file list) is the table-format transaction log in miniature."""

    def build() -> dict[int, list]:
        import glob as _g

        base = session_tmpdir("css_snap_orders_")
        orders = load_table(spark, sf_dir, "orders")
        cut = F.lit(_S14_CUT).cast("timestamp")
        v1_dir, v2_dir = os.path.join(base, "c1"), os.path.join(base, "c2")
        orders.filter(F.col("o_orderdate") < cut).write.mode(
            "overwrite"
        ).parquet(v1_dir)
        orders.filter(F.col("o_orderdate") >= cut).write.mode(
            "overwrite"
        ).parquet(v2_dir)
        f1 = sorted(_g.glob(os.path.join(v1_dir, "*.parquet")))
        f2 = sorted(_g.glob(os.path.join(v2_dir, "*.parquet")))
        # append-only log: each snapshot is a superset of the previous
        return {1: f1, 2: f1 + f2}

    return session_memo(spark, ("s14_snapshot", os.path.abspath(sf_dir)), build)


_S14_ORACLE = f"""
SELECT year(o_orderdate) AS yr,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderdate < TIMESTAMP '{_S14_CUT}'
GROUP BY 1
"""


@query("s14_snapshot_time_travel", section="S8", oracle=_S14_ORACLE)
def s14_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table AS OF an earlier snapshot: the manifest maps each
    version to its exact file list (append-only commits share the older
    files), and the reader scans version 1's files — rows appended by
    commit 2 are invisible, with no copy of the data and no tombstones.

    This is the read half of every table format's time travel
    (Delta VERSION AS OF, Iceberg snapshot-id): snapshot isolation is
    a property of WHICH files you list, never of the bytes — so the
    scan itself keeps every pushdown/pruning property of a plain
    parquet read.  The manifest here is the same O(files) driver-side
    metadata as s13's stats manifest (one IS the transaction log, the
    other its per-file stats sidecar).  The oracle reconstructs
    snapshot 1's logical content from the raw table; equality proves
    the version boundary is exactly the commit boundary.
    """
    snaps = snapshot_layout(spark, sf_dir)
    v1 = spark.read.parquet(*snaps[1])
    return v1.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
    )


# ---------------------------------------------------------------------------
# W5: trailing time-RANGE window (velocity features)
# ---------------------------------------------------------------------------

_W5_HORIZON_US = 3600 * 1_000_000  # trailing one hour

_W5_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us, value
  FROM events
)
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN {_W5_HORIZON_US} PRECEDING AND CURRENT ROW)
"""


@query("w5_trailing_range_window", section="W3", oracle=_W5_ORACLE)
def w5_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing one-hour count and sum over a time-RANGE
    frame — the velocity/recency feature shape behind fraud scoring
    and rate limiting ("how many events did this user fire in the last
    hour, as of each event").

    Scale shape: the window is PARTITIONED by user (parallel across
    keys) and the frame is a TRAILING range — both bounds advance
    monotonically with the ordered scan, so WindowExec slides in
    amortized O(1) per row (contrast the SHRINKING range frame, which
    re-evaluates per row and went quadratic in o11's first draft).
    RANGE semantics include order-value peers
    on both engines, and the windowed money sum goes through exact
    decimal so frame-internal addition order can't flip a bit.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_W5_HORIZON_US, 0)
    )
    return e.select(
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# A21: ROLLUP with GROUPING() disambiguation
# ---------------------------------------------------------------------------

_A21_ORACLE = f"""
SELECT o_orderstatus,
       NULLIF(o_orderpriority, '2-HIGH') AS prio_key,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(NULLIF(o_orderpriority, '2-HIGH')) AS INT) AS g_prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
GROUP BY ROLLUP(o_orderstatus, NULLIF(o_orderpriority, '2-HIGH'))
"""


@query("a21_grouping_id_rollup", section="A5", oracle=_A21_ORACLE)
def a21_grouping_id_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over a dimension that CONTAINS real NULLs, with
    GROUPING() flags telling "NULL because subtotal" apart from "NULL
    because the data is NULL" — without the flags the two collapse into
    one indistinguishable output row, a classic reporting-layer bug
    (here ~20% of orders carry a NULL priority key, so both kinds of
    NULL genuinely occur).

    Scale shape: same single Expand + hash aggregate as any grouping
    set (one replica per rollup level), flags are constant metadata per
    replica — zero extra passes.  The oracle runs the identical
    GROUPING() spec in DuckDB; matching proves flag semantics, not just
    totals.
    """
    o = load_table(spark, sf_dir, "orders")
    prio = F.nullif(F.col("o_orderpriority"), F.lit("2-HIGH")).alias("prio_key")
    return (
        o.select("o_orderstatus", prio, "o_totalprice")
        .rollup("o_orderstatus", "prio_key")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("prio_key").cast("int").alias("g_prio"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .select(
            "o_orderstatus", "prio_key", "g_status", "g_prio",
            "n_orders", "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# O13: keyset (seek) pagination
# ---------------------------------------------------------------------------

_O13_CURSOR_TS = "1997-06-01"
_O13_CURSOR_KEY = 3000
_O13_PAGE = 20

_O13_ORACLE = f"""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE (o_orderdate, o_orderkey)
      > (TIMESTAMP '{_O13_CURSOR_TS}', CAST({_O13_CURSOR_KEY} AS BIGINT))
ORDER BY o_orderdate, o_orderkey
LIMIT {_O13_PAGE}
"""


@query("o13_keyset_pagination", section="O2", oracle=_O13_ORACLE)
def o13_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination: the next page starts strictly after a
    (sort-key, tiebreak-key) cursor, instead of OFFSET.

    OFFSET n is O(n) per page — the engine must produce and discard
    every earlier row, so paging through a 100 TB result re-sorts ever
    longer prefixes (and rows shifting under concurrent writes skip or
    repeat entries).  The seek predicate is a FILTER — it pushes down
    to the scan (min/max pruning applies), each page costs the same,
    and the cursor is stable under appends.  Spark lacks row-value
    comparison across struct-literal type gaps, so the predicate is the
    expanded lexicographic form ``d > c OR (d = c AND k > kc)`` — the
    same expansion every keyset implementation compiles to; the oracle
    uses DuckDB's native row constructor, equality proving the
    expansion.  LIMIT over the fully-keyed ORDER BY is deterministic
    (house rule).
    """
    o = load_table(spark, sf_dir, "orders")
    c_ts = F.lit(_O13_CURSOR_TS).cast("timestamp")
    c_key = F.lit(_O13_CURSOR_KEY).cast("bigint")
    seek = (F.col("o_orderdate") > c_ts) | (
        (F.col("o_orderdate") == c_ts) & (F.col("o_orderkey") > c_key)
    )
    return (
        o.filter(seek)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_O13_PAGE)
    )


# ---------------------------------------------------------------------------
# J18: forward as-of join (time-to-next-event)
# ---------------------------------------------------------------------------

_J18_ORACLE = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts AS p_ts, c.ts AS click_ts, c.click_value,
       CAST(epoch_us(CAST(c.ts AS TIMESTAMP))
            - epoch_us(CAST(p.ts AS TIMESTAMP)) AS BIGINT) AS wait_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
"""


@query("j18_asof_forward", section="J8", oracle=_J18_ORACLE)
def j18_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each purchase, the EARLIEST at-or-after
    click, plus the wait until it — the time-to-next-event primitive
    behind conversion latency, retry-delay and next-action analyses
    (j8 is the backward mirror).

    Same scale shape as j8: tagged union + ONE ordered window per key —
    here ``first(..., ignorenulls)`` over ``[current row, unbounded
    following]`` — so the cost is a single user_id shuffle; no range
    probe, no candidate join.  At equal timestamps the purchase sorts
    BEFORE the click (tag order), so an exactly-simultaneous click
    qualifies, matching the oracle's ``p.ts <= c.ts`` (DuckDB's native
    forward ASOF).
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    tagged = purchases.select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),  # purchases first at equal ts → "<=" semantics
        "event_id",
        F.lit(None).cast("timestamp").alias("c_ts"),
        F.lit(None).cast("double").alias("c_val"),
    ).unionByName(
        clicks.select(
            "user_id",
            "ts",
            F.lit(1).alias("tag"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("c_ts"),
            F.col("click_value").alias("c_val"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        tagged.withColumn("click_ts", F.first("c_ts", ignorenulls=True).over(w))
        .withColumn("click_value", F.first("c_val", ignorenulls=True).over(w))
        .filter(F.col("tag") == 0)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("p_ts"),
            "click_ts",
            "click_value",
            (
                F.unix_micros(F.col("click_ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).alias("wait_us"),
        )
    )


# ---------------------------------------------------------------------------
# S15: partition-scheme evolution behind one view
# ---------------------------------------------------------------------------

_S15_SPLIT = "1998-01-01"  # data before: partitioned by year; after: by month


def pevo_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders under TWO partition schemes: history partitioned by
    o_year (coarse — written before the scheme changed), recent data by
    o_month (fine).  Partition evolution means old files are NEVER
    rewritten; the catalog just records which scheme covers which
    commit range."""

    def build() -> tuple[str, str]:
        d = session_tmpdir("css_pevo_")
        ydir = os.path.join(d, "year")
        mdir = os.path.join(d, "month")
        orders = load_table(spark, sf_dir, "orders")
        split = F.lit(_S15_SPLIT).cast("timestamp")
        (
            orders.filter(F.col("o_orderdate") < split)
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(ydir)
        )
        (
            orders.filter(F.col("o_orderdate") >= split)
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(mdir)
        )
        return ydir, mdir

    return session_memo(spark, ("s15_pevo", os.path.abspath(sf_dir)), build)


_S15_LO, _S15_HI = "1997-07-01", "1998-07-01"

_S15_ORACLE = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_S15_LO}'
  AND o_orderdate <  TIMESTAMP '{_S15_HI}'
GROUP BY 1
"""


@query("s15_partition_evolution", section="S8", oracle=_S15_ORACLE)
def s15_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logical table under TWO partition schemes (yearly history,
    monthly recent — the Iceberg partition-evolution story: changing
    the scheme never rewrites old files), queried with a date range
    that straddles the scheme boundary.

    The reader compiles the SAME logical predicate into each layout's
    own partition language — ``o_year IN (1997, 1998)`` on the coarse
    side, ``o_month IN ('1998-01'..'1998-06')`` on the fine side — so
    BOTH scans prune at the directory level (plan-asserted), and the
    exact row predicate is re-applied after each scan, so mistranslated
    partition math could only ever surface as a wrong result against
    the oracle (it doesn't).  At 100 TB this is how a table survives
    years of layout decisions: pruning quality evolves with the scheme,
    correctness never depends on it.
    """
    ydir, mdir = pevo_layout(spark, sf_dir)
    lo = F.lit(_S15_LO).cast("timestamp")
    hi = F.lit(_S15_HI).cast("timestamp")
    lo_y, hi_y = int(_S15_LO[:4]), int(_S15_HI[:4])
    months = []
    y, m = int(_S15_LO[:4]), int(_S15_LO[5:7])
    while (y, m) < (int(_S15_HI[:4]), int(_S15_HI[5:7])):
        months.append(f"{y:04d}-{m:02d}")
        m += 1
        if m == 13:
            y, m = y + 1, 1
    row_pred = (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    a = (
        spark.read.parquet(ydir)
        .filter(F.col("o_year").isin(list(range(lo_y, hi_y + 1))))
        .filter(row_pred)
    )
    b = spark.read.parquet(mdir).filter(F.col("o_month").isin(months)).filter(row_pred)
    cols = ["o_orderdate", "o_totalprice"]
    return (
        a.select(*cols)
        .unionByName(b.select(*cols))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# T9d: stream-stream LEFT SEMI join (batch form; stream parity in
# tests/test_streaming.py::test_t9d)
# ---------------------------------------------------------------------------

_T9D_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase'
      AND p.user_id = c.user_id
      AND p.ts >= c.ts
      AND p.ts <= c.ts + INTERVAL 1 HOUR
  )
"""


@query("t9d_semi_join_batch", section="T9", oracle=_T9D_ORACLE)
def t9d_semi_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream join, batch form: clicks that converted
    (some same-user purchase within the hour), each emitted ONCE — the
    EXISTS shape, which the inner join (t9) can't give without a
    post-join dedup shuffle when several purchases qualify.

    The same function runs as a true watermarked stream-stream join in
    tests/test_streaming.py::test_t9d (stream ≡ batch); this completes
    the stream-stream join matrix (inner t9, left outer t9b, full outer
    t9c, semi t9d).  Scale: one user_id shuffle into shared state-store
    partitioning; semi semantics additionally let purchase state
    collapse to "seen" per key-interval — strictly smaller state than
    the inner join's.
    """
    from chronicle_sniffer_spark.streaming.joins import clicks_with_conversion_semi

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase")
    out = clicks_with_conversion_semi(clicks, purchases)
    return out.select(
        "user_id", "click_id", F.col("click_ts").cast("timestamp").alias("click_ts")
    )


# ---------------------------------------------------------------------------
# A22: exact distinct users over SLIDING windows (dedup + expand)
# ---------------------------------------------------------------------------

_A22_WIN_DAYS = 7

_A22_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000 AS d
  FROM events
), expanded AS (
  SELECT user_id, d - off.o AS wstart_day
  FROM pairs,
       (SELECT unnest(generate_series(0, {_A22_WIN_DAYS - 1})) AS o) off
)
SELECT wstart_day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM expanded GROUP BY wstart_day
"""


@query("a22_sliding_distinct_users", section="A2", oracle=_A22_ORACLE)
def a22_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per SLIDING 7-day window (1-day slide) —
    the rolling-actives metric, and the canonical "hard" sliding
    aggregate: distinct doesn't decompose across overlapping windows,
    so naive plans re-deduplicate the full event volume once per
    overlapping window (7x here, 30x for monthly actives).

    Scalable shape: (1) collapse events to DISTINCT (user, day) pairs
    first — ONE map-side-combinable shuffle over the raw volume, and
    everything after sees at most users x days rows, not events;
    (2) explode each pair into the {_A22_WIN_DAYS} window starts it
    serves (a constant fan-out of the SMALL relation); (3) exact
    count-distinct per window start (a user active on several days of
    one window still counts once).  The approximate sibling at extreme
    scale is per-day HLL sketches merged across the window (a3b);
    this entry is the exact path, same skeleton as the (day,user)
    pre-aggregation every warehouse uses for rolling actives.
    """
    W = _A22_WIN_DAYS
    e = load_table(spark, sf_dir, "events")
    day = (F.unix_micros(F.col("ts").cast("timestamp")) / 86400000000).cast("bigint")
    pairs = e.select("user_id", day.alias("d")).distinct()
    expanded = pairs.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(W - 1))).alias("off"), "d"
    ).select("user_id", (F.col("d") - F.col("off")).alias("wstart_day"))
    return expanded.groupBy("wstart_day").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# S16: scan path options (recursive lookup + glob filter)
# ---------------------------------------------------------------------------


def s16_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write orders across NESTED directories (year-named subtrees of
    varying depth) with a non-parquet decoy file dropped in — the
    arrival shape of a hand-managed data lake."""

    def build() -> str:
        base = session_tmpdir("css_nested_orders_")
        orders = load_table(spark, sf_dir, "orders")
        split = F.lit("1998-01-01").cast("timestamp")
        (
            orders.filter(F.col("o_orderdate") < split)
            .write.mode("overwrite")
            .parquet(os.path.join(base, "early"))
        )
        (
            orders.filter(F.col("o_orderdate") >= split)
            .write.mode("overwrite")
            .parquet(os.path.join(base, "late", "deep"))
        )
        # a decoy a naive recursive read would choke on
        with open(os.path.join(base, "late", "notes.json"), "w") as fh:
            fh.write('{"this": "is not parquet"}\n')
        return base

    return session_memo(spark, ("s16_nested", os.path.abspath(sf_dir)), build)


_S16_ORACLE = f"""
SELECT year(o_orderdate) AS yr,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders GROUP BY 1
"""


@query("s16_scan_path_options", section="S1", oracle=_S16_ORACLE)
def s16_scan_path_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a hand-managed nested directory tree in one read:
    ``recursiveFileLookup`` walks arbitrary-depth subtrees (no
    partition-discovery assumptions about dir names) and
    ``pathGlobFilter`` keeps only ``*.parquet`` — the decoy JSON file
    sitting in the tree is skipped at LISTING time, not after a failed
    footer read (tests prove the unfiltered read fails on it).

    At scale this is the ingestion posture for lakes that predate any
    table format: listing-level filters are the only thing standing
    between the job and a crash on the stray README/_tmp/json files
    that real buckets accumulate.  The oracle aggregates the plain
    table; equality proves the recursive listing found every file and
    nothing else.
    """
    base = s16_layout(spark, sf_dir)
    scan = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )
    return scan.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
    )
