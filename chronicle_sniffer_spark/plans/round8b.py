"""Round-8 catalog additions, second wave.

Continues the round-8 build (plans/round8.py) with operators whose
whole point is the *distributed plan shape*, not just the answer:

- **J14 bucketed range join**: interval-overlap join with NO shared
  equi key.  The naive plan is a BroadcastNestedLoop / theta join —
  O(|A|x|B|) compares, the classic 100 TB killer.  The scalable shape
  maps each interval to the fixed-width time buckets it spans
  (``explode(sequence(...))``), equi-joins on the bucket id (a plain
  shuffle hash join), re-checks the exact overlap predicate, and
  de-duplicates WITHOUT a distinct shuffle by counting each pair only
  in the first bucket both intervals share (``bucket ==
  floor(greatest(a_start, b_start) / W)``).  Candidate volume is
  O(n x span/W) instead of O(n^2).  This is the same decomposition
  Databricks' range-join hint and Flink's interval join use.
- **A19 equi-depth histogram**: exact NTILE(k) semantics with NO
  global single-task window.  ``repartitionByRange`` gives a total
  order across partitions; per-partition counts become starting
  offsets via a tiny broadcast triangle join (P rows); the global row
  number is then a per-partition window (parallel) plus the offset,
  and the standard-SQL NTILE bucket formula (first N%k buckets one
  element larger) is applied arithmetically.  The oracle runs DuckDB's
  native ``ntile(8)`` — matching it exactly proves the distributed
  formulation implements the standard semantics.
- **TS11 seasonal profile**: hour-of-day baseline per event type plus
  the max absolute residual against that baseline — the relational
  core of seasonal-naive anomaly detection.  Two passes over events:
  one shuffle aggregate for the baseline (24 x |types| rows), then a
  broadcast join back and a second aggregate for the residuals.  The
  baseline average goes through exact decimal arithmetic (house rule)
  so the residual subtraction is bit-identical on both engines.

House determinism rules (plans/catalog.py) apply: identical aliases
both engines, money math in exact decimal, ties fully keyed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import davg, dsum, o_davg, o_dsum, query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# J14: bucketed range join (interval overlap, no equi key)
# ---------------------------------------------------------------------------

_J14_WINDOW_DAYS = 10  # each order "covers" [orderdate, orderdate + 10d]
_J14_BUCKET_DAYS = 16  # bucket width: ceil(window/W) + 1 <= 2 buckets/interval

_J14_ORACLE = f"""
WITH a AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS a_month,
         CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS s
  FROM orders WHERE o_orderpriority = '1-URGENT'
), b AS (
  SELECT CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS s
  FROM orders WHERE o_orderpriority = '5-LOW'
)
SELECT a.a_month,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM a JOIN b
  ON a.s <= b.s + {_J14_WINDOW_DAYS}
 AND b.s <= a.s + {_J14_WINDOW_DAYS}
GROUP BY a.a_month
"""


@query("j14_bucketed_range_join", section="J6", oracle=_J14_ORACLE)
def j14_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with no equi key, decomposed into an
    equi join on fixed-width time buckets.

    Counts pairs of (urgent, low-priority) orders whose 10-day windows
    overlap, grouped by the urgent order's month.  The reference's
    query surface has range predicates only riding an equi key
    (j9_interval); this is the general case — the one that degenerates
    to a nested-loop cross product unless decomposed.

    Scale shape: each interval spans at most
    ``ceil(window/bucket) + 1 = 2`` buckets, so the exploded inputs
    are ~2x their source size; the join is a plain shuffle hash join
    on the bucket id; the first-common-bucket filter
    (``bucket == floor(greatest(s_a, s_b) / W)``) makes each
    qualifying pair appear exactly once with NO distinct/dedup
    shuffle.  Candidate pairs per bucket are bounded by the data
    density per W days — at 1000 executors the buckets hash-spread
    evenly and no task ever sees the O(n^2) cross product.
    """
    W = _J14_BUCKET_DAYS
    orders = load_table(spark, sf_dir, "orders")
    day = (F.unix_timestamp("o_orderdate") / 86400).cast("bigint")

    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("a_month"),
        day.alias("a_s"),
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(day.alias("b_s"))

    ae = a.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("a_s") / W),
                F.floor((F.col("a_s") + _J14_WINDOW_DAYS) / W),
            )
        ),
    )
    be = b.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("b_s") / W),
                F.floor((F.col("b_s") + _J14_WINDOW_DAYS) / W),
            )
        ),
    )
    overlap = (F.col("a_s") <= F.col("b_s") + _J14_WINDOW_DAYS) & (
        F.col("b_s") <= F.col("a_s") + _J14_WINDOW_DAYS
    )
    first_common = F.col("bucket") == F.floor(F.greatest("a_s", "b_s") / W)
    return (
        ae.join(be, "bucket")
        .filter(overlap & first_common)
        .groupBy("a_month")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# A19: equi-depth histogram (distributed NTILE)
# ---------------------------------------------------------------------------

_A19_K = 8

_A19_ORACLE = f"""
WITH r AS (
  SELECT l_extendedprice AS p,
         ntile({_A19_K}) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(p) AS min_price,
       max(p) AS max_price,
       {o_dsum("p", "sum_price")}
FROM r GROUP BY bucket
"""


@query("a19_equidepth_histogram", section="A8", oracle=_A19_ORACLE)
def a19_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (NTILE) histogram over lineitem prices with no
    single-task global window.

    The textbook formulation — ``ntile(k) OVER (ORDER BY ...)`` — is a
    global sort into ONE task; at 100 TB that task is the job.  This
    plan reproduces exact NTILE semantics fully partition-parallel:

    1. ``repartitionByRange`` on the (fully tie-keyed) sort key — a
       range-partitioned parallel sort, the same machinery ORDER BY
       uses, but kept partitioned;
    2. per-partition counts (P rows) -> starting offsets via a
       broadcast triangle join, the same window-free pattern as
       l6_token_budget_select (coverage5.py:393);
    3. global row number = per-partition ``row_number()`` (a window
       PARTITIONED by pid — parallel) + offset;
    4. the standard NTILE formula applied arithmetically: with
       N rows and k buckets, the first N%k buckets hold N//k+1 rows.

    Matching DuckDB's native ntile() bit-for-bit proves the
    distributed formulation implements the standard semantics.
    """
    K = _A19_K
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p"), "l_orderkey", "l_linenumber"
    )
    npart = max(spark.sparkContext.defaultParallelism, 2)
    keys = [F.col("p"), F.col("l_orderkey"), F.col("l_linenumber")]
    parted = li.repartitionByRange(npart, *keys).withColumn(
        "pid", F.spark_partition_id()
    )
    pc = parted.groupBy("pid").agg(F.count("*").alias("pcnt"))
    offsets = (
        pc.alias("a")
        .join(F.broadcast(pc.alias("b")), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.pcnt"), F.lit(0)).cast("bigint").alias("offset"))
    )
    total = pc.agg(F.sum("pcnt").cast("bigint").alias("n_total"))
    rn = F.col("offset") + F.row_number().over(
        Window.partitionBy("pid").orderBy(*keys)
    )
    big = F.col("n_total") % K  # number of one-larger buckets
    size_big = (F.col("n_total") / K).cast("bigint") + 1
    size_small = (F.col("n_total") / K).cast("bigint")
    in_big = F.col("rn") <= big * size_big
    bucket = F.when(
        in_big, ((F.col("rn") - 1) / size_big).cast("bigint")
    ).otherwise(
        big + ((F.col("rn") - big * size_big - 1) / size_small).cast("bigint")
    ) + 1
    return (
        parted.join(F.broadcast(offsets), "pid")
        .withColumn("rn", rn)
        .crossJoin(F.broadcast(total))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("p").alias("min_price"),
            F.max("p").alias("max_price"),
            dsum("p", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# TS11: seasonal profile + residual anomaly bound
# ---------------------------------------------------------------------------

_TS11_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         CAST(extract(hour FROM ts) AS INT) AS hr,
         CAST(count(*) AS BIGINT) AS n_events,
         {o_davg("value", "avg_value")}
  FROM events GROUP BY 1, 2
)
SELECT b.event_type, b.hr, b.n_events, b.avg_value,
       max(abs(e.value - b.avg_value)) AS max_abs_residual
FROM events e
JOIN base b
  ON e.event_type = b.event_type
 AND CAST(extract(hour FROM e.ts) AS INT) = b.hr
GROUP BY b.event_type, b.hr, b.n_events, b.avg_value
"""


@query("ts11_seasonal_profile", section="TS1", oracle=_TS11_ORACLE)
def ts11_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal baseline per event type, plus the maximum
    absolute residual of any event against its baseline cell — the
    relational core of seasonal-naive anomaly detection.

    Scale shape: one shuffle aggregate builds the baseline (at most
    24 x |event types| rows — dimension-sized at ANY corpus scale),
    then the baseline broadcast-joins back onto events and a second
    shuffle aggregate computes the residual bound.  The baseline
    average uses exact decimal summation (house rule) so the
    double subtraction ``value - avg_value`` is bit-identical across
    engines; abs/max are order-independent.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    base = e.groupBy("event_type", "hr").agg(
        F.count("*").alias("n_events"), davg("value", "avg_value")
    )
    return (
        e.join(F.broadcast(base), ["event_type", "hr"])
        .groupBy("event_type", "hr", "n_events", "avg_value")
        .agg(F.max(F.abs(F.col("value") - F.col("avg_value"))).alias("max_abs_residual"))
    )


# ---------------------------------------------------------------------------
# S13: manifest-based file pruning (data skipping)
# ---------------------------------------------------------------------------

_S13_FILES = 16  # range-clustered files in the written layout


def manifest_layout(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Write orders range-clustered on o_orderdate and build a per-file
    (min, max, rows) stats manifest, once per session — min/max stats
    are a property of the stored table, exactly as in a Delta/Iceberg
    transaction log.

    The manifest build here re-scans the written files once (grouping
    by ``input_file_name()``); a production writer collects the same
    min/max from the parquet footers it just wrote, for free.  Either
    way the manifest is O(files), not O(rows) — it IS the Delta/Iceberg
    data-skipping index, kept driver-readable by construction.
    """

    def build() -> tuple[str, list]:
        base = session_tmpdir("css_manifest_orders_")
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(_S13_FILES, "o_orderdate")
            .write.mode("overwrite")
            .parquet(base)
        )
        manifest = (
            spark.read.parquet(base)
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.min("o_orderdate").alias("min_d"),
                F.max("o_orderdate").alias("max_d"),
                F.count("*").alias("n_rows"),
            )
            .collect()  # O(files) planner metadata, never O(rows)
        )
        return base, manifest

    return session_memo(spark, ("s13_manifest", os.path.abspath(sf_dir)), build)


def prune_files(manifest: list, lo: str, hi: str) -> list[str]:
    """Files whose [min_d, max_d] stats range intersects [lo, hi)."""
    import datetime

    lo_d = datetime.datetime.fromisoformat(lo)
    hi_d = datetime.datetime.fromisoformat(hi)
    return [r.file for r in manifest if r.max_d >= lo_d and r.min_d < hi_d]


_S13_LO, _S13_HI = "1997-01-01", "1998-01-01"

_S13_ORACLE = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_S13_LO}'
  AND o_orderdate <  TIMESTAMP '{_S13_HI}'
GROUP BY 1
"""


@query("s13_manifest_file_prune", section="S1", oracle=_S13_ORACLE)
def s13_manifest_file_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven file pruning (data skipping): a selective date
    predicate reads ONLY the files whose min/max stats can contain it.

    Parquet row-group stats prune *within* a scan task, but the task
    list itself — and, on object storage, the LIST + footer reads — is
    O(all files) unless an external stats manifest prunes first.  This
    entry materializes that pattern end-to-end: a range-clustered
    layout (clustering is what makes min/max ranges narrow and
    therefore skippable), a per-file stats manifest, driver-side
    interval intersection over the manifest, and a scan constructed
    from the surviving file list; the exact predicate is re-applied
    after the scan, so pruning can only ever remove provably-empty
    files (the oracle runs the same predicate over the FULL table —
    equality proves soundness).  At 100 TB the manifest is the
    Delta/Iceberg log and the intersection is the planner's job; a
    year out of seven here keeps ~3 of 16 files, and the pruned scan
    never opens the rest.  tests/test_round8b.py asserts real pruning
    (fewer files than the layout) and pruned ≡ unpruned.
    """
    base, manifest = manifest_layout(spark, sf_dir)
    keep = prune_files(manifest, _S13_LO, _S13_HI)
    scan = spark.read.parquet(*keep) if keep else spark.read.parquet(base).limit(0)
    return (
        scan.filter(
            (F.col("o_orderdate") >= F.lit(_S13_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_S13_HI).cast("timestamp"))
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# U12: polymorphic UDTF (dynamic output schema via analyze())
# ---------------------------------------------------------------------------

_U12_N = 4

_U12_ORACLE = f"""
SELECT doc_id,
       words[1] AS w0, words[2] AS w1, words[3] AS w2, words[4] AS w3
FROM (SELECT doc_id, string_split(text, ' ') AS words
      FROM documents WHERE doc_id < 10)
"""


@query("u12_polymorphic_udtf", section="U5", oracle=_U12_ORACLE)
def u12_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF: the OUTPUT SCHEMA is computed at plan
    time by the UDTF's static ``analyze()`` from a constant argument —
    ``split_fixed(doc_id, text, 4)`` yields columns w0..w3, and a
    different literal yields a different schema with no re-registration
    (Spark 4's dynamic-schema UDTF surface; the fixed-schema variant is
    u5_udtf_split).

    Scale shape: identical to any UDTF — Arrow-batched rows through one
    Python worker per task, schema resolution entirely at plan time
    (zero per-row cost), and the LATERAL correlation stays a per-row
    generator with no join or shuffle.
    """
    from chronicle_sniffer_spark.functions.udfs import register_polymorphic_udtf

    register_polymorphic_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT s.* FROM documents d,"
        f" LATERAL split_fixed(d.doc_id, d.text, {_U12_N}) s WHERE d.doc_id < 10"
    )


# ---------------------------------------------------------------------------
# TS12: interval coverage (gaps-and-islands with VARIABLE durations)
# ---------------------------------------------------------------------------

_TS12_ORACLE = """
WITH iv AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS s,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
           + (3600 + event_id % 20 * 7200) * 1000000 AS en
  FROM events
), marked AS (
  SELECT user_id, s, en,
         CASE WHEN s > COALESCE(max(en) OVER (
                PARTITION BY user_id ORDER BY s, en
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -9223372036854775807)
              THEN 1 ELSE 0 END AS flag
  FROM iv
), islands AS (
  SELECT user_id, s, en,
         SUM(flag) OVER (PARTITION BY user_id ORDER BY s, en
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM marked
), isl AS (
  SELECT user_id, island,
         min(s) AS i_start, max(en) AS i_end
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_us
FROM isl GROUP BY user_id
"""


@query("ts12_interval_coverage", section="TS5", oracle=_TS12_ORACLE)
def ts12_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping VARIABLE-length intervals per user
    (gaps-and-islands by running max of interval end), reporting
    islands and exact covered time.

    Each event covers ``[ts, ts + 1h..39h)`` (duration varies by
    event) — so an interval can be wholly CONTAINED in an earlier one,
    which gap-based sessionization (ts5, t3b: gap between consecutive
    STARTS) cannot merge correctly; the required primitive is the
    running max of END over all preceding intervals.  A new island
    starts exactly when a start exceeds every end seen before it.

    Scale shape: both windows are PARTITIONED by user_id — parallel
    across keys, state per task bounded by one user's events (the same
    per-entity ordering bound as any sessionizer; a single pathological
    entity is a data-model problem, not a plan problem).  The two
    follow-up aggregates reuse the same user_id partitioning, and all
    arithmetic is exact integer microseconds — no float drift between
    engines.
    """
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        s.alias("s"),
        (s + (F.lit(3600) + F.col("event_id") % 20 * 7200) * 1000000).alias("en"),
    )
    order = [F.col("s"), F.col("en")]
    prev = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = iv.withColumn(
        "flag",
        F.when(
            F.col("s") > F.coalesce(F.max("en").over(prev), F.lit(-(2**63) + 1)), 1
        ).otherwise(0),
    )
    islands = marked.withColumn("island", F.sum("flag").over(run))
    isl = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("en").alias("i_end")
    )
    return isl.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_us"),
    )
