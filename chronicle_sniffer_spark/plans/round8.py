"""Round-8 catalog additions.

Two Spark-4-native SQL surfaces the catalog had not yet exercised, and
four operators a training-data / analytics stack runs routinely:

- **G4 recursive-CTE hierarchy rollup**: Spark 4.0's native
  ``WITH RECURSIVE`` (UNION ALL form).  Both engines run the *same*
  recursion shape — no unrolled-iteration asymmetry.  The hierarchy is
  derived (parent = custkey DIV 10), so recursion depth is
  O(log10 max_key): ~7 levels at any scale, each level one join.
- **U7 native SQL scalar UDF**: ``CREATE FUNCTION ... RETURN expr``.
  Unlike a Python UDF, the body is INLINED into the Catalyst plan —
  whole-stage codegen, predicate pushdown through it, zero
  serialization.  The 100 TB story for "custom business logic" is
  exactly this: express it as SQL once, get JVM-speed everywhere.
- **U8 native SQL table UDF**: ``RETURNS TABLE`` — a parameterized
  view (here a year spine), the relational-first alternative to
  driver-side loop-and-union.
- **TS8 EWMA smoothing**: the order-dependent recursion
  ``y_t = a*x_t + (1-a)*y_{t-1}`` — NOT expressible as a window
  aggregate without numerically explosive ``(1-a)^-k`` weights.  Per
  key it is inherently sequential, so the right distributed shape is
  one Arrow-batched grouped map (keys parallelize; within a key a
  tight numpy loop).  The oracle runs the identical recursion as a
  DuckDB recursive CTE — bit-exact, no rounding slack needed (kept
  round(6) anyway for cross-libm safety).
- **O11 Pareto frontier (skyline)**: per-group non-dominated set via
  two window passes — O(n log n), fully partition-parallel — instead
  of the quadratic NOT-EXISTS self-join the oracle uses.
- **L4 bigram-LM scoring**: add-one-smoothed conditional
  log-likelihood — the classic cheap LM-quality filter (KenLM-style
  scoring reduced to its relational core): corpus bigram/unigram
  counts (token-keyed aggs, Zipf-collapsed), then a per-instance
  shuffle join on the bigram key.
- **L2 n-gram containment**: asymmetric near-dup — catches a short
  doc EMBEDDED in a longer one, which symmetric Jaccard structurally
  misses (|A∩B|/min(|A|,|B|) is high where Jaccard is low).  Same
  rare-gram inverted-index candidate generation as the Jaccard path
  (df-capped, never all-pairs), exact scores on full sets.
- **DQ5 row-level quarantine**: the batch dead-letter pattern —
  expectation rules as codegen'd CASEs plus one broadcast dimension
  rule, failing rows emitted with machine-readable reason codes.
- **TS9 Holt linear**: the two-state (level + trend) generalization
  of TS8 — same grouped-map shape, two-variable recursive-CTE oracle.
- **L6 nucleus (top-p) selection**: per-source best-quality prefix
  crossing a token-mass budget — the per-GROUP counterpart of the
  global token-budget prefix sum; exact-integer budget test.
- **G5 bounded-hop BFS**: exact ≤K-hop distances as a static K-deep
  unroll of frontier-join + min-combine; chained-CTE oracle.
- **U9 iterator-form pandas UDF**: per-worker state hoisted once
  before the Arrow batch loop — the ML-inference scoring pattern the
  scalar form cannot express.

House determinism rules (plans/catalog.py) apply: identical aliases
both engines, money math in exact decimal, ties fully keyed.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    NGRAM_MAX_DF_PCT,
    NGRAM_N,
    _ORACLE_GRAMS_CTE,
    shared_pairs_and_labels,
)
from chronicle_sniffer_spark.operators.graph import _COPURCHASE_CTES, _copurchase_edges
from chronicle_sniffer_spark.plans.catalog import query, sql_query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir


# ---------------------------------------------------------------------------
# G4: recursive-CTE hierarchy rollup (Spark 4 native WITH RECURSIVE)
# ---------------------------------------------------------------------------

# Same recursion on both engines; only the integer-division operator
# differs (Spark DIV, DuckDB //).  The derived tree: parent(custkey) =
# custkey div 10; custkeys 1..9 are roots.  Keys are contiguous from 1,
# so every non-root's parent exists and the walk covers every customer
# exactly once (a tree: UNION ALL emits no duplicates).
def _g4_sql(intdiv: str) -> str:
    return f"""
    WITH RECURSIVE walk(custkey, root, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, w.root, w.depth + 1
      FROM customer c JOIN walk w ON (c.c_custkey {intdiv} 10) = w.custkey
      WHERE c.c_custkey >= 10
    )
    SELECT w.root AS root_custkey,
           CAST(count(DISTINCT w.custkey) AS BIGINT) AS n_members,
           CAST(max(w.depth) AS INT) AS max_depth,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS subtree_revenue
    FROM walk w LEFT JOIN orders o ON o.o_custkey = w.custkey
    GROUP BY w.root
    """


@query("g4_hierarchy_rollup_rcte", section="G4", oracle=_g4_sql("//"))
def g4_hierarchy_rollup_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Org-tree / BOM-style subtree rollup via Spark 4's native
    ``WITH RECURSIVE`` — members, max depth, and order revenue per
    root of a derived customer hierarchy.

    Scale shape: recursion depth is the digit count of the max key
    (≤ 12 even at 100 TB), and each level is ONE equi-join of the
    frontier against the dimension — Catalyst plans every level with
    the usual join machinery (AQE chooses broadcast while the frontier
    is small).  This retires the driver-side unrolled-loop pattern for
    bounded-depth hierarchies; cyclic graphs stay on the dedicated CC
    operator (operators/dedup.py), since Spark's rCTE is UNION ALL
    only and cannot dedup a cyclic closure."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_g4_sql("DIV"))


# ---------------------------------------------------------------------------
# U7: native SQL scalar UDF (CREATE FUNCTION ... RETURN expr)
# ---------------------------------------------------------------------------

_U7_ORACLE = """
    SELECT l_returnflag,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
"""


@query("u7_sql_scalar_udf", section="U7", oracle=_U7_ORACLE)
def u7_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business logic as a NATIVE SQL UDF: the discounted-price rule
    declared once with ``CREATE FUNCTION ... RETURN <expr>`` and used
    from a query.  Spark inlines the body into the Catalyst plan —
    the physical plan is identical to writing the expression by hand
    (whole-stage codegen, no Python round-trip; asserted in
    tests/test_round8.py).  This is the scalable home for shared
    semantic definitions that teams otherwise copy-paste or, worse,
    implement as Python UDFs."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION css_disc_price(
             p DECIMAL(18,2), d DECIMAL(18,2)) RETURNS DECIMAL(18,4)
           RETURN CAST(p * (1 - d) AS DECIMAL(18,4))"""
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(css_disc_price(CAST(l_extendedprice AS DECIMAL(18,2)),
                                       CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# U8: native SQL table UDF (CREATE FUNCTION ... RETURNS TABLE)
# ---------------------------------------------------------------------------

_U8_ORACLE = """
    WITH spine AS (SELECT CAST(g AS INT) AS yr
                   FROM generate_series(1992, 1998) AS t(g))
    SELECT s.yr,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0)
                AS DOUBLE) AS revenue
    FROM spine s LEFT JOIN orders o ON CAST(year(o.o_orderdate) AS INT) = s.yr
    GROUP BY s.yr
"""


@query("u8_sql_table_udf", section="U8", oracle=_U8_ORACLE)
def u8_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A parameterized year spine as a NATIVE SQL table UDF
    (``RETURNS TABLE``) driving a gap-preserving yearly rollup — the
    relational answer to 'loop over years on the driver and union'.
    The function body is inlined as a subquery plan; the spine is a
    few rows, so the join side is broadcast and the orders scan stays
    one pass."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION css_year_span(y1 INT, y2 INT)
           RETURNS TABLE(yr INT)
           RETURN SELECT explode(sequence(y1, y2)) AS yr"""
    )
    return spark.sql(
        """
        SELECT s.yr,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))),
                             CAST(0 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM css_year_span(1992, 1998) s
        LEFT JOIN orders o ON CAST(year(o.o_orderdate) AS INT) = s.yr
        GROUP BY s.yr
        """
    )


# ---------------------------------------------------------------------------
# TS8: per-key EWMA smoothing (grouped-map; oracle = recursive CTE)
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.25  # binary-exact; 1-a = 0.75 also exact

_TS8_ORACLE = f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    w(user_id, rn, y) AS (
      SELECT user_id, rn, value FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.rn, {EWMA_ALPHA} * r.value + {1 - EWMA_ALPHA} * w.y
      FROM ranked r JOIN w ON r.user_id = w.user_id AND r.rn = w.rn + 1
    ),
    last AS (SELECT user_id, max(rn) AS n FROM ranked GROUP BY user_id)
    SELECT l.user_id, CAST(l.n AS BIGINT) AS n_events,
           round(w.y, 6) AS ewma_last
    FROM last l JOIN w ON w.user_id = l.user_id AND w.rn = l.n
"""


@query("ts8_ewma_smoothing", section="TS8", oracle=_TS8_ORACLE)
def ts8_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (final smoothed level + event count).  The recursion
    ``y_t = a*x_t + (1-a)*y_{t-1}`` is order-dependent, so no window
    aggregate expresses it without ``(1-a)^{-k}`` weights that
    overflow on long histories.  Distributed shape: ONE user_id
    shuffle + native per-partition sort into a ``mapInPandas`` pass
    that carries the (user, count, level) state across Arrow batch
    boundaries — the round-14 rework of the grouped-map form, which
    paid one Python call + one pandas frame per USER (guide §4: the
    per-group overhead, not the O(n) loop, was the wall; measured
    3.6 s → the mapInPandas pass at sf0.1 with 1 500 users).  State
    is O(1) per in-flight user, so batch size bounds memory at any
    scale.  The per-step multiply-add ORDER is unchanged from the
    grouped-map form, so the doubles still match the DuckDB oracle's
    recursive CTE bit-for-bit (round(6) kept as cross-engine margin).
    """
    import pandas as pd

    def _ewma_part(batches):
        uid = None
        n = 0
        y = 0.0
        out: list[tuple] = []
        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy()
            for j in range(len(uids)):
                u = uids[j]
                if u != uid:
                    if uid is not None:
                        out.append((uid, n, round(y, 6)))
                    uid, n, y = u, 0, 0.0
                x = vals[j]
                y = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y if n else x
                n += 1
            if out:
                yield pd.DataFrame(
                    out, columns=["user_id", "n_events", "ewma_last"]
                )
                out = []
        if uid is not None:
            yield pd.DataFrame(
                [(uid, n, round(y, 6))],
                columns=["user_id", "n_events", "ewma_last"],
            )

    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "value")
        .mapInPandas(_ewma_part, "user_id bigint, n_events bigint, ewma_last double")
    )


# ---------------------------------------------------------------------------
# O11: Pareto frontier / skyline (two windows vs quadratic NOT EXISTS)
# ---------------------------------------------------------------------------

_O11_ORACLE = """
    SELECT p_brand, p_partkey, p_size, p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
"""


@query("o11_pareto_frontier", section="O11", oracle=_O11_ORACLE)
def o11_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline: parts not dominated on (size ↑, price ↓) —
    the 'best tradeoff set' query (Börzsönyi et al., ICDE 2001).

    The oracle's NOT-EXISTS self-join is O(n²); the Spark plan is the
    sort-based O(n log n) formulation, fully partition-parallel per
    brand, collapsed to DISTINCT SIZES first: (1) per (brand, size)
    the min price — dominated iff a same-size row is strictly
    cheaper; (2) over the distinct-size relation ordered size DESC, a
    running min with a ROWS frame excluding the current row gives the
    min price among strictly-larger sizes — dominated iff that ≤ my
    price.  The ROWS frame is incrementally maintained (O(1)/row);
    the first formulation used a shrinking RANGE frame, which Spark
    recomputes per row — O(rows²) per partition, caught at 17× wall
    for 10× data by the sf1 soak and replaced.  Joining the per-size
    verdict back to parts is one (brand, size)-keyed hash join — the
    shape that survives a 100 TB parts table (skylines are per-group;
    a global skyline would add one grid-partition pre-filter pass)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_size", "p_retailprice"
    )
    per_size = part.groupBy("p_brand", "p_size").agg(
        F.min("p_retailprice").alias("_m_eq")
    )
    w_gt = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    verdict = per_size.withColumn("_m_gt", F.min("_m_eq").over(w_gt))
    return (
        part.join(verdict, ["p_brand", "p_size"])
        .filter(
            (F.col("_m_gt").isNull() | (F.col("_m_gt") > F.col("p_retailprice")))
            & (F.col("p_retailprice") == F.col("_m_eq"))
        )
        .select("p_brand", "p_partkey", "p_size", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# L4: add-one-smoothed bigram LM scoring
# ---------------------------------------------------------------------------

_L4LM_ORACLE = """
    WITH toks AS (
      SELECT doc_id, ws[i] AS w, i
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
            FROM documents),
           unnest(generate_series(1, len(ws))) AS t(i)
    ),
    bg AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    c_bg AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    c_uni AS (SELECT w AS w1, count(*) AS cu FROM toks GROUP BY w),
    v AS (SELECT count(DISTINCT w) AS v FROM toks)
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((c_bg.cb + 1.0) / (c_uni.cu + v.v))), 6) AS avg_logp
    FROM bg JOIN c_bg ON c_bg.w1 = bg.w1 AND c_bg.w2 = bg.w2
            JOIN c_uni ON c_uni.w1 = bg.w1
            CROSS JOIN v
    GROUP BY bg.doc_id
"""


@query("l4_bigram_lm_score", section="L4", oracle=_L4LM_ORACLE)
def l4_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap LM-quality signal: per-doc average add-one-smoothed
    bigram conditional log-likelihood, ln((C(w1,w2)+1)/(C(w1)+V)),
    with the LM trained on the corpus itself — the relational core of
    KenLM-style perplexity filtering.

    Scale shape: the token stream is materialized once per call and
    bigram instances come from ONE lead() window pass over the doc_id
    partitioning the explode already established (no token self-join);
    unigram/bigram count tables are token-keyed aggregates (map-side
    combined, Zipf-collapsed — vocabulary grows sublinearly in corpus
    size); scoring is a shuffle join of bigram INSTANCES against the
    count tables on the bigram key, plus a 1-row broadcast for V.
    No UDFs — every stage is codegen'd expressions."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )  # explode fan-out must not run in the scan's single-file partitioning
    # lambda-free tokenization: a higher-order F.filter on the array is
    # CodegenFallback and would run the explode fan-out interpreted
    # (audit_codegen catches it) — explode raw positions and drop empty
    # tokens row-level; consecutive-pair order comes straight from pos
    # (matching the oracle's list_filter)
    raw = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    # the token stream feeds FOUR consumers (bigram pairing, unigram
    # counts, vocabulary size, and the scoring join's instance side) —
    # the explode subtree sits ABOVE the one reusable exchange (the
    # doc_id repartition), so each consumer re-ran the fan-out;
    # materialize it once per call (l3_sparse_cosine policy)
    raw = raw.localCheckpoint(eager=True)
    # bigram instances by lead() over the SAME doc_id partitioning the
    # explode already established — the former (doc_id, i)=(doc_id,
    # i+1) self-join shuffled + sorted the token stream twice for what
    # one window pass computes; materialized once because both the LM
    # count table and the scoring join consume it
    bg = (
        raw.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w")
            .over(Window.partitionBy("doc_id").orderBy("pos"))
            .alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=True)
    )
    c_bg = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    c_uni = raw.groupBy(F.col("w").alias("w1")).agg(F.count("*").alias("cu"))
    v = raw.agg(F.countDistinct("w").alias("v"))
    return (
        bg.join(c_bg, ["w1", "w2"])
        .join(c_uni, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v")))),
                6,
            ).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# L2: n-gram containment (asymmetric near-dup)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def _l2c_oracle() -> str:

    return f"""
    WITH {_ORACLE_GRAMS_CTE}
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / least(sa.n_grams, sb.n_grams), 6)
             AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE round(i.n_inter * 1.0 / least(sa.n_grams, sb.n_grams), 6)
          >= {CONTAINMENT_THRESHOLD}
    """


@query("l2_ngram_containment", section="L2", oracle=_l2c_oracle())
def l2_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: max containment |A∩B| / min(|A|,|B|) ≥ 0.8
    over word 3-gram sets — catches a short document EMBEDDED in a
    longer one, where symmetric Jaccard (∩/∪) stays low and the L2
    Jaccard entry structurally cannot fire.  The standard companion
    metric in dedup pipelines (e.g. quote/boilerplate absorption).

    Candidates come from the same df-capped rare-gram inverted index
    as the Jaccard path (operators/dedup.py:containment_pairs) — never
    all-pairs; the cap's recall cost is the audited one
    (l2_ngram_df_cap_audit).  Scores are EXACT on the full gram sets;
    only candidate recall depends on the index."""
    from chronicle_sniffer_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"),
        n=NGRAM_N,
        threshold=CONTAINMENT_THRESHOLD,
        max_df_pct=NGRAM_MAX_DF_PCT,
    )


# ---------------------------------------------------------------------------
# DQ5: row-level expectation quarantine (dead-letter for batch)
# ---------------------------------------------------------------------------

_DQ5_RULES_SQL = """
      CASE WHEN o.o_totalprice > 400000 THEN 'R1_price_gt_400k' END,
      CASE WHEN o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
           THEN 'R2_urgent_but_final' END,
      CASE WHEN (o.o_custkey % 97) = 0 THEN 'R3_custkey_blocklist' END,
      CASE WHEN c.c_nationkey >= 20 THEN 'R4_nation_not_allowed' END
"""

_DQ5_ORACLE = f"""
    SELECT o.o_orderkey,
           concat_ws(',', {_DQ5_RULES_SQL}) AS reasons,
           CAST(((o.o_totalprice > 400000)::INT
                 + (o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F')::INT
                 + ((o.o_custkey % 97) = 0)::INT
                 + (c.c_nationkey >= 20)::INT) AS INT) AS n_violations
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 400000
       OR (o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F')
       OR (o.o_custkey % 97) = 0
       OR c.c_nationkey >= 20
"""


@query("dq5_quarantine_split", section="DQ5", oracle=_DQ5_ORACLE)
def dq5_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectation checking with a quarantine route — the
    batch dead-letter pattern: every row is evaluated against a rule
    set (three row-local predicates + one dimension-join rule), and
    failing rows are emitted with machine-readable reason codes, so a
    pipeline can sink them for triage instead of poisoning downstream
    tables (complements the table-level DQ1 constraint report).

    Scale shape: rules are codegen'd CASE expressions evaluated in
    the scan stage; the one cross-table rule rides a broadcast join
    of the dimension (AQE-sized).  ``concat_ws`` skips NULLs on both
    engines, so the reason string needs no array machinery.  The
    clean-path complement is the same plan with the filter flipped —
    one scan feeds both sinks."""
    o = load_table(spark, sf_dir, "orders").alias("o")
    c = load_table(spark, sf_dir, "customer").alias("c")
    r1 = F.col("o.o_totalprice") > 400000
    r2 = (F.col("o.o_orderpriority") == "1-URGENT") & (F.col("o.o_orderstatus") == "F")
    r3 = (F.col("o.o_custkey") % 97) == 0
    r4 = F.col("c.c_nationkey") >= 20
    return (
        o.join(c, F.col("c.c_custkey") == F.col("o.o_custkey"))
        .select(
            "o.o_orderkey",
            F.concat_ws(
                ",",
                F.when(r1, "R1_price_gt_400k"),
                F.when(r2, "R2_urgent_but_final"),
                F.when(r3, "R3_custkey_blocklist"),
                F.when(r4, "R4_nation_not_allowed"),
            ).alias("reasons"),
            (r1.cast("int") + r2.cast("int") + r3.cast("int") + r4.cast("int"))
            .cast("int")
            .alias("n_violations"),
        )
        .filter(F.col("n_violations") > 0)
    )


# ---------------------------------------------------------------------------
# TS9: Holt linear (level + trend) smoothing — two-state recursion
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.25  # level gain;  1-a = 0.75   (binary-exact)
HOLT_BETA = 0.5  # trend gain;  1-b = 0.5    (binary-exact)

_TS9_ORACLE = f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    w(user_id, rn, l, b) AS (
      SELECT user_id, rn, value, CAST(0.0 AS DOUBLE) FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.rn,
             {HOLT_ALPHA} * r.value + {1 - HOLT_ALPHA} * (w.l + w.b),
             {HOLT_BETA} * (({HOLT_ALPHA} * r.value
                             + {1 - HOLT_ALPHA} * (w.l + w.b)) - w.l)
               + {1 - HOLT_BETA} * w.b
      FROM ranked r JOIN w ON r.user_id = w.user_id AND r.rn = w.rn + 1
    ),
    last AS (SELECT user_id, max(rn) AS n FROM ranked GROUP BY user_id)
    SELECT l2.user_id, CAST(l2.n AS BIGINT) AS n_events,
           round(w.l, 6) AS level_last,
           round(w.b, 6) AS trend_last,
           round(w.l + w.b, 6) AS forecast_1
    FROM last l2 JOIN w ON w.user_id = l2.user_id AND w.rn = l2.n
"""


@query("ts9_holt_linear", section="TS9", oracle=_TS9_ORACLE)
def ts9_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method per key: coupled level/trend recursion
    (l_t = a·x_t + (1-a)(l_{t-1}+b_{t-1}); b_t = β(l_t-l_{t-1}) +
    (1-β)b_{t-1}) with a one-step forecast — the two-state
    generalization of TS8's EWMA, showing the recursion pattern
    extends to vector state.  Same distributed shape as the reworked
    ts8: ONE user_id shuffle + native per-partition sort into a
    ``mapInPandas`` pass carrying the (user, count, level, trend)
    state across Arrow batch boundaries — per-group Python/pandas
    overhead amortized to one call per BATCH (guide §4), O(1) state
    per in-flight user.  The per-step multiply-add order is unchanged
    from the grouped-map form, so the oracle's recursive CTE still
    matches bit-for-bit before the 6dp rounding."""
    import pandas as pd

    _COLS = ["user_id", "n_events", "level_last", "trend_last", "forecast_1"]

    def _holt_part(batches):
        uid = None
        n = 0
        l, b = 0.0, 0.0
        out: list[tuple] = []
        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy()
            for j in range(len(uids)):
                u = uids[j]
                if u != uid:
                    if uid is not None:
                        out.append(
                            (uid, n, round(l, 6), round(b, 6), round(l + b, 6))
                        )
                    uid, n = u, 0
                x = vals[j]
                if n == 0:
                    l, b = x, 0.0
                else:
                    l_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
                    b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
                    l = l_new
                n += 1
            if out:
                yield pd.DataFrame(out, columns=_COLS)
                out = []
        if uid is not None:
            yield pd.DataFrame(
                [(uid, n, round(l, 6), round(b, 6), round(l + b, 6))],
                columns=_COLS,
            )

    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "value")
        .mapInPandas(
            _holt_part,
            "user_id bigint, n_events bigint, level_last double,"
            " trend_last double, forecast_1 double",
        )
    )


# ---------------------------------------------------------------------------
# L6: per-group nucleus (top-p) selection
# ---------------------------------------------------------------------------

NUCLEUS_PCT = 60  # keep best docs until 60% of each source's tokens

_L6N_ORACLE = f"""
    WITH sig AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS quality
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_tokens, quality,
             sum(n_tokens) OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n_tokens) OVER (PARTITION BY source) AS total
      FROM sig
    )
    SELECT doc_id, source, n_tokens, quality,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE (cum - n_tokens) * 100 < total * {NUCLEUS_PCT}
"""


@query("l6_nucleus_select", section="L6", oracle=_L6N_ORACLE)
def l6_nucleus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source nucleus (top-p) selection: within each source, rank
    documents by quality (deterministic tie-break) and keep the
    prefix up to and INCLUDING the row that crosses 60% of that
    source's token mass — the per-group counterpart of the global
    token-budget entry (l6_token_budget_select).  The budget test is
    exact integer math ((cum - n)·100 < total·p), engine-identical.

    Scale shape: groups are the parallel unit, so a per-SOURCE window
    (partitioned cumsum + 1-pass total) is the RIGHT plan here — the
    global distributed prefix sum is only needed when the ordering
    spans the whole corpus.  One source-keyed shuffle, no single-task
    window (partitionBy present), no driver round-trips."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    quality = F.round(
        F.length(F.regexp_replace("text", " ", "")) * 1.0
        / F.size(F.split("text", " ")),
        6,
    )
    sig = d.select(
        "doc_id", "source", n_tokens.alias("n_tokens"), quality.alias("quality")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    ranked = sig.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        F.sum("n_tokens").over(w_cum).alias("cum"),
        F.sum("n_tokens").over(w_tot).alias("total"),
    )
    return ranked.filter(
        (F.col("cum") - F.col("n_tokens")) * 100 < F.col("total") * NUCLEUS_PCT
    ).select(
        "doc_id", "source", "n_tokens", "quality", F.col("cum").alias("cum_tokens")
    )


# ---------------------------------------------------------------------------
# G5: bounded-hop BFS (k-hop neighborhood with exact distances)
# ---------------------------------------------------------------------------

BFS_HOPS = 3
# frontier-broadcast gate (g12 policy): below this measured node count
# the per-hop frontier join is hinted broadcast; above it the hint
# drops out and the join reverts to shuffle — the 100 TB path
BFS_BROADCAST_MAX_NODES = 2_000_000


def _g5_oracle() -> str:

    steps = []
    prev = "d0"
    for k in range(1, BFS_HOPS + 1):
        steps.append(
            f"""d{k} AS (
      SELECT n, min(dist) AS dist FROM (
        SELECT n, dist FROM {prev}
        UNION ALL
        SELECT e.t, d.dist + 1 FROM {prev} d JOIN sym e ON e.s = d.n
      ) GROUP BY n
    )"""
        )
        prev = f"d{k}"
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH {_COPURCHASE_CTES},
    sym AS (SELECT u AS s, v AS t FROM edges
            UNION ALL SELECT v, u FROM edges),
    src AS (SELECT min(u) AS n FROM edges),
    d0 AS (SELECT n, 0 AS dist FROM src),
    {steps_sql}
    SELECT n AS user_id, CAST(dist AS INT) AS dist FROM {prev}
    """


@query("g5_bfs_hops", section="G5", oracle=_g5_oracle())
def g5_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shortest-path distances within BFS_HOPS hops of a
    deterministic source (the graph's min node id) on the capped
    purchase co-occurrence graph — the k-hop-neighborhood primitive
    (fraud rings, blast-radius, friends-of-friends) completing the
    graph family next to PageRank / triangles / CC.

    Scale shape — the g12 round architecture applied to unit weights
    (the round-14 rework; the earlier static K-deep unroll duplicated
    the whole co-purchase derivation once per level and per side, and
    the 205 KB physical plan made Catalyst planning, not execution,
    the wall).  The symmetrized edge list is built ONCE,
    hash-partitioned by the propagation TARGET and eagerly
    localCheckpointed, so every hop's min-combine on ``t`` rides the
    materialized partitioning with no Exchange and the bounded-K
    unroll runs LAZILY inside one action (per-hop eager checkpoints
    would serialize K driver-synchronized jobs of fixed latency; the
    checkpoint — not cache — choice keeps a later identical plan
    from silently reusing this call's materialized edges).  The
    frontier side carries the g12 SIZE-GATED broadcast hint (static
    node count measured once against the checkpoint — a LogicalRDD
    has unknown stats, so an ungated plan falls to shuffle joins even
    while the frontier is tiny; past the gate the hint drops out and
    the join reverts to shuffle, the 100 TB path).  Only the
    frontier∪reduction union — node-sized — pays a shuffle per hop.
    Distances are exact ints, so relaxation order can never matter.
    The oracle unrolls the identical K min-relaxation steps as
    chained CTEs."""

    edges = _copurchase_edges(spark, sf_dir)
    # ONE eager materialization: the t-partitioned symmetric edge list
    # is checkpointed (not cached — a cache entry keyed on an identical
    # logical plan would survive this call and hand later runs a
    # pre-materialized edge list), so every hop's subtree starts at a
    # small LogicalRDD instead of re-deriving the co-purchase join —
    # the static unroll's plan stays KBs, and the hop count is a
    # bounded constant, so the three hops run LAZILY inside the single
    # final action (the earlier per-hop eager checkpoints serialized
    # five driver-synchronized jobs; fixed job latency was the wall)
    sym = (
        edges.select(F.col("u").alias("s"), F.col("v").alias("t"))
        .unionByName(edges.select(F.col("v").alias("s"), F.col("u").alias("t")))
        .repartition("t")
        .localCheckpoint(eager=True)
    )
    d = sym.agg(F.min("s").alias("n")).select("n", F.lit(0).alias("dist"))
    # static across hops: one measured count gates the per-hop
    # broadcast hint (s ranges over ALL nodes — sym is symmetric);
    # cheap — it reads the materialized checkpoint, not the lineage
    n_nodes = sym.select("s").distinct().count()
    small = n_nodes <= BFS_BROADCAST_MAX_NODES
    for _ in range(BFS_HOPS):
        frontier = d.select(F.col("n").alias("s"), "dist")
        fr_side = F.broadcast(frontier) if small else frontier
        prop = fr_side.join(sym, "s").select(
            "t", (F.col("dist") + F.lit(1)).alias("dist")
        )
        # exchange-free on the t-partitioned checkpoint: reduce the
        # edge-sized propagation BEFORE the union, so the only
        # shuffle per hop is node-sized
        prop_min = (
            prop.groupBy("t")
            .agg(F.min("dist").alias("dist"))
            .select(F.col("t").alias("n"), "dist")
        )
        d = d.unionByName(prop_min).groupBy("n").agg(F.min("dist").alias("dist"))
    return d.select(F.col("n").alias("user_id"), F.col("dist").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# U9: iterator-form pandas UDF (amortized per-executor state)
# ---------------------------------------------------------------------------

_U9_ORACLE = """
    SELECT doc_id,
           round(0.4 * (length(text) % 101)
                 + 0.6 * (len(string_split(text, ' ')) % 53), 6) AS score
    FROM documents
"""


@query("u9_iter_pandas_udf", section="U9", oracle=_U9_ORACLE)
def u9_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form pandas UDF (``Iterator[Series] -> Iterator[
    Series]``): the 'model' (here a deterministic weight vector
    standing in for a tokenizer/classifier checkpoint) is constructed
    ONCE per python worker, before the batch loop — not once per
    Arrow batch, and never per row.  At 100 TB this is the difference
    between loading a multi-GB model thousands of times per executor
    and loading it once; it is THE scoring pattern for ML inference
    in a Spark pipeline (the scalar form re-enters the UDF per batch
    with no place to hoist state).  The arithmetic is integer-exact
    before one final rounding, so the oracle replays it in SQL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # executed once per worker: the expensive-state hoist point
        weights = {"w_chars": 0.4, "w_tokens": 0.6, "m1": 101, "m2": 53}
        for texts in batches:
            chars = texts.str.len() % weights["m1"]
            toks = texts.str.split(" ").str.len() % weights["m2"]
            yield (weights["w_chars"] * chars + weights["w_tokens"] * toks).round(6)

    from chronicle_sniffer_spark.tables import spread

    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", score(F.col("text")).alias("score")
    )


# ---------------------------------------------------------------------------
# TS10: strict-contiguity sequence pattern (CEP / MATCH_RECOGNIZE core)
# ---------------------------------------------------------------------------

_TS10_CHR = """CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END"""

_TS10_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, count(*) AS n_events,
             string_agg({_TS10_CHR}, '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST((length(s) - length(replace(s, 'vcp', ''))) // 3 AS INT)
             AS n_strict_funnels
    FROM seq
"""


@query("ts10_sequence_pattern", section="TS10", oracle=_TS10_ORACLE)
def ts10_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-contiguity sequence detection per key: count of
    view→click→purchase runs with NO intervening event — the
    strict-adjacency core of CEP / MATCH_RECOGNIZE (Flink's `next`
    contiguity), complementing ts2's relaxed-contiguity funnel
    (`followed-by` semantics).

    Shape: ONE user_id-keyed ordered string aggregate (Spark 4
    ``listagg WITHIN GROUP``) collapses each key's event history to a
    character sequence; pattern counting is then pure string
    arithmetic ((len - len(replace)) / patlen), which both engines
    evaluate identically — deliberately NOT regex, whose
    non-overlapping-match semantics differ across engines.  Per-key
    sequences are the parallel unit; nothing global."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        WITH seq AS (
          SELECT user_id, count(*) AS n_events,
                 listagg({_TS10_CHR})
                   WITHIN GROUP (ORDER BY ts, event_id) AS s
          FROM events GROUP BY user_id
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               CAST((length(s) - length(replace(s, 'vcp', ''))) DIV 3 AS INT)
                 AS n_strict_funnels
        FROM seq
        """
    )


# ---------------------------------------------------------------------------
# L6: end-to-end curation funnel report (composition entry)
# ---------------------------------------------------------------------------

QUALITY_GATE_MIN = 4.2  # chars-per-token floor for the gate stage


def _l6p_oracle() -> str:

    return f"""
    WITH RECURSIVE {_ORACLE_GRAMS_CTE},
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6)
            >= {JACCARD_THRESHOLD}
    ),
    e2 AS (SELECT doc_a AS s, doc_b AS t FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
    reach(s, t) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e2)
      UNION
      SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s
    ),
    labels AS (SELECT s AS doc_id, min(t) AS label FROM reach GROUP BY s),
    sig AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(length(regexp_replace(text, ' ', '', 'g')) * 1.0
                   / len(string_split(text, ' ')), 6) AS quality
      FROM documents
    ),
    s1 AS (SELECT g.* FROM sig g
           JOIN (SELECT min(doc_id) AS doc_id FROM documents
                 GROUP BY md5(text)) k ON k.doc_id = g.doc_id),
    s2 AS (SELECT s1.* FROM s1 LEFT JOIN labels l ON l.doc_id = s1.doc_id
           WHERE l.doc_id IS NULL OR l.label = s1.doc_id),
    s3 AS (SELECT * FROM s2 WHERE quality >= {QUALITY_GATE_MIN})
    SELECT * FROM (
      SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM sig
      UNION ALL
      SELECT '1_exact_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s1
      UNION ALL
      SELECT '2_near_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_quality_gate', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s3
    )
    """


@query("l6_curation_funnel", section="L6", oracle=_l6p_oracle())
def l6_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline as ONE composed plan with a
    per-stage accounting report — the artifact a 100 TB data-curation
    run publishes next to its output: raw → exact dedup (hash-keyed
    keep-min) → near-dup canonical filter (shared CC labels) →
    quality gate, with surviving doc and token counts per stage (no
    silent shrinkage; every stage's cost is visible).

    Composition reuses the session-scoped pair/label materialization
    (:func:`chronicle_sniffer_spark.operators.dedup.
    shared_pairs_and_labels`) — the cluster table is computed once per
    session and this entry reads the parquet, exactly how a
    production pipeline consumes its dedup stage.  The oracle nests
    the full recursive-CTE closure + hash dedup + gate chain."""

    d = load_table(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) * 1.0
            / F.size(F.split("text", " ")),
            6,
        ).alias("quality"),
    )
    keep = d.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    )
    s1 = sig.join(keep.select("doc_id"), "doc_id", "left_semi")
    _, labels = shared_pairs_and_labels(spark, sf_dir)
    noncanon = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    s2 = s1.join(noncanon, "doc_id", "left_anti")
    s3 = s2.filter(F.col("quality") >= QUALITY_GATE_MIN)

    def report(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        ).select(F.lit(stage).alias("stage"), "n_docs", "n_tokens")

    return (
        report(sig, "0_raw")
        .unionByName(report(s1, "1_exact_dedup"))
        .unionByName(report(s2, "2_near_dedup"))
        .unionByName(report(s3, "3_quality_gate"))
    )


# ---------------------------------------------------------------------------
# P15: VARIANT semi-structured shredding (Spark 4 native VARIANT)
# ---------------------------------------------------------------------------

_P15_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
"""


@query("p15_variant_shred", section="P15", oracle=_P15_ORACLE)
def p15_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's native VARIANT type:
    ``parse_json`` once, ``variant_get`` typed paths, then relational
    aggregation — the open-format answer to JSON columns at 100 TB.
    VARIANT stores a parsed binary encoding (no per-access re-parse,
    ~8× faster than string JSON per the Spark 4 release notes) and
    keeps schema-on-read flexibility where a rigid from_json struct
    would reject drift.  The engine's UDM path already reads tshark
    JSON as VARIANT (sources/json_source.py); this entry is the
    declared catalog surface for it.  Integer sums — exact, engine-
    identical."""
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# J13: LATERAL correlated top-k join
# ---------------------------------------------------------------------------

# Per-key correlated top-k via a LATERAL subquery join (Spark 4 SQL
# surface) — 'each customer's two most expensive orders' in the
# correlated form users write, rather than the window-rank rewrite
# (w1_topk_per_group) they are usually told to use.  Catalyst
# decorrelates the LATERAL into a ranked join, so the physical plan is
# the same partition-parallel shape: the point of the entry is that the
# declarative form is supported and optimal, full tie-break keys
# included.
sql_query(
    "j13_lateral_topk",
    section="J13",
    text="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM {customer} c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey < 30
""",
)


# ---------------------------------------------------------------------------
# P16: error-safe (try_*) arithmetic — ANSI-mode-safe ingestion
# ---------------------------------------------------------------------------

_P16_ORACLE = """
    WITH x AS (
      SELECT TRY_CAST(split_part(p_brand, '#', 2) AS INT) AS mfgr_id,
             TRY_CAST(p_name AS INT) AS bad_cast,
             CASE WHEN (p_size - 25) = 0 THEN NULL
                  ELSE p_retailprice / (p_size - 25) END AS ratio
      FROM part
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(mfgr_id) AS BIGINT) AS sum_mfgr,
           CAST(sum(CASE WHEN bad_cast IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_casts,
           CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_by_zero,
           CAST(SUM(CAST(round(ratio, 4) AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_ratio
    FROM x
"""


@query("p16_try_arithmetic", section="P16", oracle=_P16_ORACLE)
def p16_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: ``try_cast`` / ``try_divide``
    return NULL where ANSI mode would abort the job — the difference
    between one malformed row killing a 100 TB ingest and that row
    flowing to the DQ5 quarantine.  The audit aggregates count the
    absorbed failures (never silent).  Per-row doubles are rounded
    then summed in exact decimal, so the FP-division column is still
    order-independent.

    The failing-cast path is the expensive one (~8 µs/row for a long
    non-numeric string vs ~0.5 µs for a clean parse — measured by the
    sf1 soak), so the projection is spread across cores first: a
    single-file testbed scan would otherwise run every try_cast in
    ONE task.  At 100 TB inputs are well-split and spread() is a
    no-op."""
    from chronicle_sniffer_spark.tables import spread

    p = spread(
        load_table(spark, sf_dir, "part").select("p_brand", "p_name", "p_retailprice", "p_size")
    )
    x = p.select(
        F.expr("try_cast(split_part(p_brand, '#', 2) AS INT)").alias("mfgr_id"),
        F.expr("try_cast(p_name AS INT)").alias("bad_cast"),
        F.expr("try_divide(p_retailprice, p_size - 25)").alias("ratio"),
    )
    return x.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("mfgr_id").cast("bigint").alias("sum_mfgr"),
        F.sum(F.col("bad_cast").isNull().cast("int")).cast("bigint").alias("n_bad_casts"),
        F.sum(F.col("ratio").isNull().cast("int")).cast("bigint").alias("n_div_by_zero"),
        F.sum(F.round("ratio", 4).cast("decimal(18,6)")).cast("double").alias("sum_ratio"),
    )


# ---------------------------------------------------------------------------
# A17: GROUP BY ALL (Spark 4 SQL surface)
# ---------------------------------------------------------------------------

# ``GROUP BY ALL`` (Spark 4 / modern-SQL sugar): every non-aggregate
# select item becomes a grouping key — kills the copy-the-select-list-
# into-GROUP-BY drift bug in wide rollups.  The resolved plan is the
# ordinary hash aggregate.
sql_query(
    "a17_group_by_all",
    section="A17",
    text="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM {orders} GROUP BY ALL
""",
)


# ---------------------------------------------------------------------------
# DQ6: source-to-target reconciliation checksum
# ---------------------------------------------------------------------------

def _fold8(h: str) -> str:
    """Fold the first 8 hex nibbles of md5 expression ``h`` into a
    32-bit integer — pure instr/substr arithmetic, engine-identical
    (same device as round7's CMS bucket hash)."""
    # each nibble cast to BIGINT before the 16^7 multiply — the INT
    # product overflows under ANSI mode (Spark) at the top nibble
    nib = "(CAST(instr('0123456789abcdef', substr({h}, {j}, 1)) AS BIGINT) - 1)"
    return (
        "("
        + " + ".join(
            f"{nib.format(h=h, j=j + 1)} * {16 ** (7 - j)}" for j in range(8)
        )
        + ")"
    )


_DQ6_ROW_KEY = (
    "md5(concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),"
    " o_orderstatus, o_orderpriority,"
    " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)))"
)

_DQ6_ROW_KEY_DUCK = (
    "md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),"
    " o_orderstatus, o_orderpriority,"
    " CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)))"
)

_DQ6_ORACLE = f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_fold8(_DQ6_ROW_KEY_DUCK)}) AS BIGINT) AS content_checksum
    FROM orders GROUP BY yr
"""


@query("dq6_reconciliation_checksum", section="DQ6", oracle=_DQ6_ORACLE)
def dq6_reconciliation_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration/replication validation: per partition (year), the row
    count plus an ADDITIVE content checksum — sum of a 32-bit fold of
    each row's md5 over its canonical field string.  Source and
    target each compute this tiny relation; any dropped, duplicated,
    or mutated row shifts the sum, and addition is commutative so
    partitioning/order differences can't.  The checksum string avoids
    raw doubles (engine float-formatting differs) by folding exact
    integer cents.

    Scale shape: one scan, map-side-combinable agg, O(#partitions)
    output — the cheapest possible cross-system integrity handshake
    at 100 TB (this entry's DuckDB oracle literally IS the
    'other engine' computing the matching checksum)."""
    e = load_table(spark, sf_dir, "orders")
    return (
        e.groupBy(F.expr("CAST(year(o_orderdate) AS INT)").alias("yr"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.expr(_fold8(_DQ6_ROW_KEY))).cast("bigint").alias("content_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# L4: ROUGE-1 overlap scoring for near-dup pairs
# ---------------------------------------------------------------------------

def _l4r_oracle() -> str:

    return f"""
    WITH {_ORACLE_GRAMS_CTE},
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.n_inter * 1.0 / (sa.n_grams + sb.n_grams - i.n_inter), 6)
            >= {JACCARD_THRESHOLD}
    ),
    toks AS (
      SELECT doc_id, w, count(*) AS cnt FROM (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ),
    lens AS (SELECT doc_id, sum(cnt) AS n FROM toks GROUP BY doc_id),
    ov AS (
      SELECT p.doc_a, p.doc_b, sum(least(ta.cnt, tb.cnt)) AS overlap
      FROM pairs p
      JOIN toks ta ON ta.doc_id = p.doc_a
      JOIN toks tb ON tb.doc_id = p.doc_b AND tb.w = ta.w
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT o.doc_a, o.doc_b,
           round(o.overlap * 1.0 / lb.n, 6) AS rouge1_p,
           round(o.overlap * 1.0 / la.n, 6) AS rouge1_r,
           round(2.0 * (o.overlap * 1.0 / lb.n) * (o.overlap * 1.0 / la.n)
                 / ((o.overlap * 1.0 / lb.n) + (o.overlap * 1.0 / la.n)), 6)
             AS rouge1_f
    FROM ov o JOIN lens la ON la.doc_id = o.doc_a
              JOIN lens lb ON lb.doc_id = o.doc_b
    """


@query("l4_rouge_pairs", section="L4", oracle=_l4r_oracle())
def l4_rouge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 precision/recall/F1 over token MULTISETS for every
    near-dup pair — the eval-metric view of the dedup graph (treating
    doc_a as reference, doc_b as candidate): how much of each
    near-duplicate is literal token overlap vs paraphrase.  Joins the
    L4 eval family (l3_ann_recall_eval) and consumes the
    session-scoped materialized pair table — computed once, read here.

    Shape: per-doc token counts are one token-keyed agg; the overlap
    is a (pair × shared-token) join keyed on (doc, token) — candidate
    pairs only, never all pairs.  Unigram overlap uses min(count_a,
    count_b), the multiset intersection ROUGE defines."""

    pairs, _ = shared_pairs_and_labels(spark, sf_dir)
    pairs = pairs.select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
    )
    lens = toks.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "w", F.col("cnt").alias("cnt_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), "w", F.col("cnt").alias("cnt_b"))
    ov = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("overlap"))
    )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    p_ = F.col("overlap") * 1.0 / F.col("n_b")
    r_ = F.col("overlap") * 1.0 / F.col("n_a")
    return (
        ov.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(p_, 6).alias("rouge1_p"),
            F.round(r_, 6).alias("rouge1_r"),
            F.round(2.0 * p_ * r_ / (p_ + r_), 6).alias("rouge1_f"),
        )
    )


# ---------------------------------------------------------------------------
# P17: collation-aware grouping (Spark 4 COLLATE)
# ---------------------------------------------------------------------------

_P17_ORACLE = """
    WITH x AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS s,
             n_chars
      FROM documents
    )
    SELECT lower(s) AS source_ci,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM x GROUP BY lower(s)
"""


@query("p17_collated_group", section="P17", oracle=_P17_ORACLE)
def p17_collated_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping through Spark 4's native COLLATION
    support (``COLLATE UTF8_LCASE``) — the declarative alternative to
    sprinkling lower() into every predicate/group key, and collation-
    aware comparison is pushed into hashing/codegen rather than
    allocating a lowercased copy per row.  Case variance is induced
    in-plan (the corpus is uniform); the grouped representative under
    a collation is whichever variant a partition sees first, so the
    output key is canonicalized with lower() for determinism — the
    COUNTS are what prove the collated grouping merged the variants.
    Oracle: the classic lower() rewrite."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        WITH x AS (
          SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
                   COLLATE UTF8_LCASE AS s,
                 n_chars
          FROM documents
        )
        SELECT lower(s) AS source_ci,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM x GROUP BY s
        """
    )


# ---------------------------------------------------------------------------
# S8c: dynamic-partition overwrite (partition-surgical rewrite)
# ---------------------------------------------------------------------------

_S8C_ORACLE = """
    WITH final AS (
      SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS yr
      FROM orders WHERE year(o_orderdate) <> 1995
      UNION ALL
      SELECT o_orderkey, o_totalprice, 1995 AS yr
      FROM orders
      WHERE year(o_orderdate) = 1995 AND o_orderpriority <> '1-URGENT'
    )
    SELECT yr, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM final GROUP BY yr
"""


@query("s8c_dynamic_partition_overwrite", section="S8", oracle=_S8C_ORACLE)
def s8c_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-surgical rewrite: ``partitionOverwriteMode=dynamic``
    replaces ONLY the partitions present in the incoming write — here
    a compliance-delete reprocess of year=1995 (drop its urgent
    orders) that must not touch any other year.  With static mode
    (the default) the same write would TRUNCATE THE WHOLE TABLE — the
    classic data-loss foot-gun this mode exists to prevent; at 100 TB
    the rewrite cost is one partition, not the table.  The entry
    rebuilds the base table, applies the dynamic overwrite, and
    returns the per-partition rollup of what actually survived on
    disk."""
    path = session_memo(
        spark,
        ("s8c_dynamic_partition_overwrite", os.path.abspath(sf_dir)),
        lambda: session_tmpdir("css_dynpart_"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.expr("CAST(year(o_orderdate) AS INT)").alias("yr"),
    )
    # base table: full static overwrite (reset state for determinism)
    o.drop("o_orderpriority").write.mode("overwrite").partitionBy("yr").parquet(path)
    # the surgical step: dynamic overwrite of ONLY year=1995
    (
        o.filter((F.col("yr") == 1995) & (F.col("o_orderpriority") != "1-URGENT"))
        .drop("o_orderpriority")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("yr")
        .parquet(path)
    )
    t = spark.read.parquet(path)
    return t.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# A4c: exact weighted median per group
# ---------------------------------------------------------------------------

_A4C_ORACLE = """
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS x,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    ranked AS (
      SELECT l_returnflag, x, wt,
             sum(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY x, wt ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM w
    )
    SELECT l_returnflag, min(x) AS weighted_median
    FROM ranked WHERE cw * 2 >= tw GROUP BY l_returnflag
"""


@query("a4c_weighted_median", section="A4", oracle=_A4C_ORACLE)
def a4c_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median per group — the smallest value
    whose cumulative weight reaches half the group's total, weights =
    quantities in exact integer arithmetic.

    Scale shape — TWO-PHASE HISTOGRAM NARROWING, not a per-group
    sorted window: with 3 groups over 6M+ rows, a window partitioned
    by group runs THREE tasks however many cores exist (measured
    7.0× wall for 10× data by the sf1 soak before this rewrite).
    Instead: (1) one fully-parallel (group, bucket) weight aggregate
    over B=1024 equi-width buckets (min/max from a first 1-row-per-
    group agg, broadcast back); (2) the half-weight CROSSING bucket
    found by a prefix sum over the tiny bin relation (≤ groups×B
    rows); (3) the exact sorted window runs over ONLY the crossing
    bucket's rows (~n/B per group) with the below-bucket weight as
    offset.  Same exact answer — integer-weight crossings are
    engine-identical — at scan-bound cost.  Completes the A4 family:
    plain percentiles (A4), mergeable sketch (A4b), weighted exact
    (A4c)."""
    B = 1024
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    rng = li.groupBy("l_returnflag").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    # equi-width bucket id, clamped to [0, B-1]; degenerate lo==hi
    # collapses to bucket 0 (all values equal — still exact below)
    bucket = F.when(
        F.col("hi") == F.col("lo"), F.lit(0)
    ).otherwise(
        F.least(
            F.lit(B - 1),
            F.floor((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * B),
        )
    ).cast("int")
    bucketed = li.join(F.broadcast(rng), "l_returnflag").select(
        "l_returnflag", "x", "wt", bucket.alias("b")
    )
    bins = bucketed.groupBy("l_returnflag", "b").agg(F.sum("wt").alias("bw"))
    w_bins = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    crossing = (
        bins.select(
            "l_returnflag",
            "b",
            (F.sum("bw").over(w_bins) - F.col("bw")).alias("below"),
            F.sum("bw").over(w_bins).alias("cum"),
            F.sum("bw").over(w_tot).alias("tw"),
        )
        .filter((F.col("cum") * 2 >= F.col("tw")) & (F.col("below") * 2 < F.col("tw")))
        .select("l_returnflag", "b", "below", "tw")
    )
    # exact pass over ONLY the crossing bucket's rows
    narrowed = bucketed.join(F.broadcast(crossing), ["l_returnflag", "b"])
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("x", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = narrowed.select(
        "l_returnflag",
        "x",
        (F.col("below") + F.sum("wt").over(w_cum)).alias("cw"),
        "tw",
    )
    return (
        ranked.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("x").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# U10: session variables + parameterized SQL (Spark 4 surfaces)
# ---------------------------------------------------------------------------

_U10_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_totalprice > (SELECT CAST(round(avg(o_totalprice)) AS DOUBLE)
                          FROM orders)
      AND year(o_orderdate) = 1995
    GROUP BY o_orderstatus
"""


@query("u10_parameterized_sql", section="U10", oracle=_U10_ORACLE)
def u10_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injection-safe query parameterization, both Spark 4 flavors in
    one flow: a SQL SESSION VARIABLE (``DECLARE VARIABLE`` +
    ``SET VAR`` from a scalar subquery — computed state captured
    server-side, no driver round-trip of the value into query text)
    and a NAMED-PARAMETER query (``spark.sql(..., args={...})`` —
    the API that retires f-string SQL splicing).  The threshold is
    integer-rounded so a one-ulp cross-engine difference in the
    average cannot move any 2-decimal price across the comparison.
    Oracle inlines both parameters as plain SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE css_rev_floor DOUBLE DEFAULT 0.0")
    spark.sql(
        "SET VAR css_rev_floor = (SELECT CAST(round(avg(o_totalprice)) AS DOUBLE)"
        " FROM orders)"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_totalprice > css_rev_floor AND year(o_orderdate) = :yr
        GROUP BY o_orderstatus
        """,
        args={"yr": 1995},
    )


# ---------------------------------------------------------------------------
# T9c (batch twin): full-outer interval attribution join
# ---------------------------------------------------------------------------

_T9C_ORACLE = """
    WITH c AS (
      SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(c.c_user, p.p_user) AS user_id,
           c.click_id, p.purchase_id, p.purchase_value
    FROM c FULL OUTER JOIN p
      ON c.c_user = p.p_user
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
"""


@query("t9c_full_outer_join_batch", section="T9", oracle=_T9C_ORACLE)
def t9c_full_outer_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the T9c FULL OUTER stream–stream attribution
    join (streaming/joins.py:click_purchase_attribution_full_outer —
    the SAME function, static inputs): every click and every purchase
    appears, matched within the 1-hour window or null-extended.  The
    streaming side's stream≡batch equivalence is proven in
    tests/test_streaming.py::test_t9c; this entry pins the batch
    semantics against the oracle."""
    from chronicle_sniffer_spark.streaming.joins import (
        click_purchase_attribution_full_outer,
    )

    e = load_table(spark, sf_dir, "events")
    out = click_purchase_attribution_full_outer(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
    )
    return out.select("user_id", "click_id", "purchase_id", "purchase_value")


# ---------------------------------------------------------------------------
# A18: deterministic mode per group
# ---------------------------------------------------------------------------

# Deterministic mode per group — most frequent value with a total
# tie-break (count desc, value asc).  Spark's and DuckDB's native
# ``mode()`` both leave ties implementation-defined (Spark's depends on
# hash-map iteration order), which makes the built-in unusable under a
# hash-compare contract; the count + ranked-window form pins the
# semantics at the cost of one extra value-cardinality-sized shuffle.
sql_query(
    "a18_mode_per_group",
    section="A18",
    text="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM {orders} GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
      SELECT o_orderstatus, o_orderpriority, n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS n_occurrences
    FROM ranked WHERE rn = 1
""",
)


# ---------------------------------------------------------------------------
# T3b (batch twin): dynamic-gap session windows
# ---------------------------------------------------------------------------

_T3B_ORACLE = """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'purchase'
                  THEN INTERVAL 45 MINUTE ELSE INTERVAL 10 MINUTE END AS gap
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, event_id, value, gap,
             CASE WHEN ts >= max(ts + gap) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(ts + gap) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM g
    ),
    sess AS (
      SELECT user_id, ts, value, gap,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS s_start, max(ts + gap) AS s_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sid
"""


@query("t3b_dynamic_gap_session", section="T3", oracle=_T3B_ORACLE)
def t3b_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the DYNAMIC-GAP session window
    (streaming/windows.py:dynamic_session_aggregate — the same
    function runs as a stream, tests/test_streaming.py::test_t3b):
    each event extends its session by its OWN gap (purchases 45 min,
    everything else 10 min), so high-intent actions keep sessions
    alive — inexpressible with T3's fixed gap.  The oracle
    reconstructs the merge with a running max(ts + gap) break flag +
    cumulative session ids; native session_window and the
    lag/cumsum construction must agree exactly."""
    from chronicle_sniffer_spark.streaming.windows import dynamic_session_aggregate

    return dynamic_session_aggregate(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# U11: applyInArrow grouped map (Arrow-native, no pandas layer)
# ---------------------------------------------------------------------------

_U11_ORACLE = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY user_id
"""


@query("u11_apply_in_arrow", section="U11", oracle=_U11_ORACLE)
def u11_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped map through ``applyInArrow`` (Spark 4): the UDF
    receives a raw ``pyarrow.Table`` per group — no pandas
    construction at all, which skips the Arrow→pandas conversion
    (index building, NaN coercion, object boxing for strings) that
    ``applyInPandas`` pays on both edges.  For UDFs that only need
    columnar kernels (sums, filters, takes), this is the lowest-
    overhead Python hot path Spark offers.  The aggregation is exact
    integer cents, so group-internal row order cannot matter."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def agg(table: pa.Table) -> pa.Table:
        cents = pc.cast(pc.round(pc.multiply(table["value"], 100.0)), pa.int64())
        return pa.table(
            {
                "user_id": [table["user_id"][0].as_py()],
                "n_events": [table.num_rows],
                "total_cents": [pc.sum(cents).as_py()],
            }
        )

    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInArrow(agg, "user_id bigint, n_events bigint, total_cents bigint")
    )
