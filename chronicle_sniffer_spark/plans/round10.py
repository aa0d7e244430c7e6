"""Round-10 catalog additions.

- **L4 full BPE encode**: apply a TRAINED merge list to tokenize text
  — the actual tokenize-for-training step every LLM pipeline runs
  (the trainer's single merge step already exists as
  `l4_bpe_merge_step`; this closes the loop by encoding with the
  learned vocabulary).  The merge list is a broadcast-sized model
  artifact baked in as literals; encoding is a pure string-replace
  chain that stays in whole-stage codegen on both engines.
- **ML19 Population Stability Index**: the binned magnitude-weighted
  drift monitor dashboards alert on, in exact integer micro/pico
  arithmetic end-to-end.
- **DQ13 functional-dependency audit**: does A → B hold — per-claim
  distinct keys, violating keys, worst RHS cardinality, verdict.
- **ML21 leave-one-out target encoding**: leakage-free categorical
  feature (Σy − y_i)/(n − 1) from a broadcast decimal-exact model.
- **TS18 additive seasonal decomposition**: centered-MA trend, weekly
  seasonal, residual — all integer micro-unit arithmetic.
- **G9 fixed-round label propagation**: synchronous LPA communities
  with deterministic (count desc, label asc) tie-breaks.
- **L3 sparse TF-IDF cosine top-k**: the lexical twin of the dense
  ANN family, candidates from posting-list joins only.
- **G10 bipartite co-occurrence projection**: order–supplier graph
  collapsed to a weighted supplier co-supply edge list.
- **TS20 heartbeat-gap outage windows**: the batch/backfill twin of
  streaming/heartbeat.py (reference R6) — gaps above the liveness
  threshold become (start, end, duration) downtime rows.
- **ML16 multi-feature OLS via normal equations**: one exact-decimal
  moment pass + in-plan Cramer solve — distributed linear regression's
  real shape (tiny Gram matrix, O(p³) solve off the data path).
- **DQ14 referential-integrity orphan audit**: per-FK orphan counts
  via broadcast anti-semantics left joins.
- **J19 as-of join with tolerance**: latest-prior match capped at a
  staleness bound — the union-sort-lag j8 idiom, made streamable.

Reference scope note: the reference engine (processor/
json2udm_cloud.py) has none of these; they extend the declared
analytics/LLM surface (SURVEY.md §2B rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.plans.catalog import query, sql_query
from chronicle_sniffer_spark.tables import load_table


# ---------------------------------------------------------------------------
# L4: full BPE encode with a trained merge list
# ---------------------------------------------------------------------------

# Merge list trained offline on the sf0.01 documents corpus with the
# standard BPE rule (most frequent adjacent token pair per step, ties
# to the lexicographically smallest pair; word-frequency weighted —
# the same pair-count rule as `l4_bpe_merge_step`).  A tokenizer is
# trained once and applied everywhere, so the list is a constant model
# artifact, exactly like a broadcast ML model.  Regenerate with the
# snippet in the docstring below if the corpus generator changes.
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
]

# passes per merge: one non-overlapping replace() pass can miss
# adjacent re-formed occurrences inside token runs (' a a a a ' →
# ' aa a a ' after one pass); each extra pass at least halves the
# remainder, and the parity test asserts 4 passes reach the fixpoint
# for every corpus word (plus adversarial runs)
BPE_PASSES = 4


def _bpe_oracle() -> str:
    enc = "' ' || regexp_replace(text, '(.)', '\\1 ', 'g')"
    for a, b in BPE_MERGES:
        for _ in range(BPE_PASSES):
            enc = f"replace({enc}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim({enc}), ' +')) AS INTEGER)
             AS n_bpe_tokens,
           md5(regexp_replace(trim({enc}), ' +', ' ', 'g')) AS enc_md5
    FROM documents
    """


@query("l4_bpe_encode", section="L4", oracle=_bpe_oracle())
def l4_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE ENCODE: tokenize every document with a trained merge
    list (`BPE_MERGES`) — the step that turns raw text into the token
    stream an LLM trains on, closing the loop the trainer-side
    `l4_bpe_merge_step` opened.

    Semantics (identical on both engines, proven by the hard oracle
    and tests/test_round10.py's reference-encoder parity): the text is
    exploded to one token per character with single-space separators
    and a leading space (every original space char doubles the gap, so
    merges can never cross a word boundary); each merge (a, b) → ab
    then applies as {p} non-overlapping left-to-right
    ``replace(' a b ', ' ab ')`` passes, in training-rank order, which
    the parity test proves equals the canonical lowest-rank-first BPE
    encoder with per-merge fixpoint on every corpus word.  The output
    is the per-doc token count plus an md5 over the full encoded
    stream, so the oracle hash-checks the exact tokenization, not just
    its length.

    Spark shapes: the merge chain is {m}×{p} nested ``replace`` calls
    — pure JVM string ops inside whole-stage codegen, zero UDFs, zero
    shuffles beyond the scan (a narrow map the optimizer can fuse with
    any downstream pipeline).  At 100 TB the merge list for a real
    32k-vocab tokenizer would move from literals to a broadcast join
    against a pair table feeding a Pandas-UDF encoder (the vectorized
    path `ml14` uses); the literal chain is the right shape for the
    boundable vocabulary here and keeps the whole operator
    oracle-checkable.

    Train-list provenance (regenerate if the corpus generator
    changes): standard weighted BPE over the sf0.01 word histogram —
    per step, count adjacent token pairs weighted by word frequency,
    merge the most frequent pair (ties → lexicographically smallest),
    16 steps."""
    enc: Column = F.concat(
        F.lit(" "), F.regexp_replace(F.col("text"), "(.)", "$1 ")
    )
    for a, b in BPE_MERGES:
        for _ in range(BPE_PASSES):
            enc = F.replace(enc, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    enc_trim = F.trim(enc)
    from chronicle_sniffer_spark.tables import spread

    # spread(): the single-file documents scan is ONE task, and the
    # replace chain is pure per-row CPU — serialized it measured 9.2 s
    # at sf1 (SCALE_r10); at 100 TB the corpus arrives pre-split
    return spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(F.split(enc_trim, " +")).cast("int").alias("n_bpe_tokens"),
        F.md5(F.regexp_replace(enc_trim, " +", " ").cast("binary")).alias("enc_md5"),
    )


l4_bpe_encode.__doc__ = l4_bpe_encode.__doc__.format(
    m=len(BPE_MERGES), p=BPE_PASSES
)


# ---------------------------------------------------------------------------
# ML19: Population Stability Index (score-distribution drift)
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10


def _psi_oracle() -> str:
    return f"""
    WITH stats AS (
      SELECT min(value) AS vmin, max(value) AS vmax FROM events
    ),
    bucketed AS (
      SELECT least(CAST(floor((value - s.vmin) * {PSI_BUCKETS}
                               / (s.vmax - s.vmin)) AS BIGINT),
                   {PSI_BUCKETS - 1}) AS bucket,
             event_id % 2 AS half
      FROM events, stats s
    ),
    counts AS (
      SELECT bucket,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_exp,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_act
      FROM bucketed GROUP BY bucket
    ),
    totals AS (
      SELECT CAST(sum(c_exp) AS BIGINT) AS n_exp,
             CAST(sum(c_act) AS BIGINT) AS n_act FROM counts
    ),
    mics AS (
      SELECT bucket, c_exp, c_act,
             (2 * c_exp * 1000000 + n_exp) // (2 * n_exp) AS p_mic,
             (2 * c_act * 1000000 + n_act) // (2 * n_act) AS q_mic
      FROM counts, totals
    ),
    terms AS (
      SELECT bucket, c_exp AS n_expected, c_act AS n_actual,
             (p_mic - q_mic)
               * CAST(round(ln(CAST(greatest(p_mic, 1) AS DOUBLE)
                                / CAST(greatest(q_mic, 1) AS DOUBLE)) * 1000000)
                      AS BIGINT) AS term_pico
      FROM mics
    )
    SELECT bucket, n_expected, n_actual, term_pico,
           CAST(sum(term_pico) OVER () AS DOUBLE) / 1e12 AS psi
    FROM terms
    """


@query("ml19_psi_drift", section="ML", oracle=_psi_oracle())
def ml19_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the standard production monitor
    for score-distribution drift between a reference ("expected") and
    a live ("actual") population, here the even/odd event_id halves of
    the metric stream: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over
    {nb} equal-width buckets spanning the combined [min, max].
    PSI < 0.1 ⇒ stable, 0.1–0.25 ⇒ shifting, > 0.25 ⇒ retrain.

    Complements the distribution tests already in the catalog:
    `ml12_ks_two_sample` (exact sup-norm test) and
    `dq10_profile_snapshot_diff` (per-column profile deltas) — PSI is
    the binned, magnitude-weighted summary dashboards alert on.

    Numeric determinism (the g1/l6 integer discipline): proportions
    quantize to integer micro-units via half-up integer division, the
    ln argument is a ratio of those EXACT integers (so both engines
    feed libm the identical double; the result is quantized to
    micro-nats before use), each bucket term is an exact BIGINT
    pico-unit product, and the final PSI is one exact-integer sum
    divided by 1e12.  Zero-count buckets use the standard ε-floor
    (count clamp to 1 micro-unit) inside the ln only — a (p−q)=0
    bucket contributes exactly 0.

    Spark shapes: one stats agg (broadcast back), one bucket hash-agg
    with map-side partials, a ≤{nb}-row window for totals — at 100 TB
    the only full-data pass is the bucketed count, shuffling
    {nb} rows per partition."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    nb = PSI_BUCKETS
    bucketed = ev.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("vmin")) * nb / (F.col("vmax") - F.col("vmin"))
            ).cast("bigint"),
            F.lit(nb - 1),
        ).alias("bucket"),
        (F.col("event_id") % 2).alias("half"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_exp"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_act"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()  # ≤ PSI_BUCKETS rows: bounded by the agg above
    mics = counts.select(
        "bucket",
        "c_exp",
        "c_act",
        F.sum("c_exp").over(w).alias("n_exp"),
        F.sum("c_act").over(w).alias("n_act"),
    ).select(
        "bucket",
        F.col("c_exp").alias("n_expected"),
        F.col("c_act").alias("n_actual"),
        F.expr("(2 * c_exp * 1000000 + n_exp) div (2 * n_exp)").alias("p_mic"),
        F.expr("(2 * c_act * 1000000 + n_act) div (2 * n_act)").alias("q_mic"),
    )
    terms = mics.select(
        "bucket",
        "n_expected",
        "n_actual",
        (
            (F.col("p_mic") - F.col("q_mic"))
            * F.round(
                F.log(
                    F.greatest("p_mic", F.lit(1)).cast("double")
                    / F.greatest("q_mic", F.lit(1)).cast("double")
                )
                * 1000000
            ).cast("bigint")
        ).alias("term_pico"),
    )
    return terms.select(
        "*",
        (F.sum("term_pico").over(w).cast("double") / F.lit(1e12)).alias("psi"),
    )


ml19_psi_drift.__doc__ = ml19_psi_drift.__doc__.format(nb=PSI_BUCKETS)


# ---------------------------------------------------------------------------
# DQ13: functional-dependency audit
# ---------------------------------------------------------------------------

# Declared FD claims: (name, table, lhs, rhs).  A mix of true key
# dependencies and deliberately violated ones, so the report is
# non-vacuous in both directions.
FD_CLAIMS = [
    ("orders.o_orderkey->o_orderdate", "orders", "o_orderkey", "o_orderdate"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
]


def _fd_oracle() -> str:
    parts = []
    for name, table, lhs, rhs in FD_CLAIMS:
        parts.append(f"""
    SELECT '{name}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(nd) AS BIGINT) AS max_rhs_distinct,
           (max(nd) = 1) AS holds
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM {{{table}}} GROUP BY {lhs})""")
    return " UNION ALL ".join(parts)


# Functional-dependency audit: for each declared dependency A → B,
# does every A value map to exactly one B?  Reports per claim: distinct
# LHS count, number of violating keys, the worst per-key RHS cardinality
# and the verdict.  Each claim is one groupBy(lhs) count-distinct(rhs) —
# a two-phase partial aggregate keyed on the LHS — rolled up to 4
# measures; claims union into one report.  At 100 TB each claim touches
# two columns of one table and shuffles key-level rows only.
sql_query("dq13_fd_audit", section="DQ", text=_fd_oracle())


# ---------------------------------------------------------------------------
# ML21: leave-one-out target encoding
# ---------------------------------------------------------------------------


@query(
    "ml21_target_encode_loo",
    section="ML",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey,
           o.o_orderpriority,
           -- integer half-away rounding (round-11 advisor fix): the
           -- leave-one-out sum is exact cents, so enc's 6-dp rounding
           -- runs as (2*num + den) // (2*den) on integers — no
           -- double round() boundary can diverge across engines
           CASE WHEN g.n > 1
                THEN CAST((2 * (CAST((g.s - CAST(o.o_totalprice AS DECIMAL(18,2)))
                                     * 100 AS BIGINT) * 10000)
                           + (g.n - 1)) // (2 * (g.n - 1)) AS DOUBLE) / 1e6
                END AS enc
    FROM orders o JOIN g USING (o_orderpriority)
    """,
)
def ml21_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the standard high-cardinality
    categorical feature for tabular ML: each row's category is encoded
    as the mean target of all OTHER rows in that category,
    (Σ_c y − y_i) / (n_c − 1), which is leakage-free by construction
    (the row's own label never reaches its feature).

    Spark shapes: one partial-aggregated groupBy builds the per-
    category (sum, count) model — category-cardinality-sized, so it
    BROADCASTS back onto the fact table; the encode itself is then a
    map-side join + two arithmetic ops per row, no second shuffle.
    The category sums accumulate in exact DECIMAL (the catalog's money
    rule) so the broadcast model is bit-identical across engines, and
    the per-row 6-dp rounding runs as the repo's integer half-away
    idiom — (Σ−y) in exact cents, enc_mic = (2·cents·10⁴ + (n−1)) div
    (2·(n−1)), one exact integer→double conversion at the end — so no
    round(double, 6) boundary exists for the engines to disagree on
    (round-11 advisor fix; the l6_moore_lewis class).  Decimal widths
    are chosen to never demote: cents (20,0) × 10⁴ (5,0) → (26,0),
    ×2 (1,0) → (28,0), + (11,0) → (29,0).
    Singleton categories yield NULL (no peer evidence) rather than a
    leaked self-mean."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("n"),
    )
    enc_mic = F.expr(
        "(CAST(2 AS DECIMAL(1,0))"
        " * (CAST((s - CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS DECIMAL(20,0))"
        "    * CAST(10000 AS DECIMAL(5,0)))"
        " + CAST(n - 1 AS DECIMAL(11,0)))"
        " div (2 * (n - 1))"
    )
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("n") > 1, enc_mic.cast("double") / F.lit(1e6)
            ).alias("enc"),
        )
    )


# ---------------------------------------------------------------------------
# TS18: additive seasonal decomposition (trend / weekly seasonal / residual)
# ---------------------------------------------------------------------------

TS18_HALF_WIN = 3  # centered moving-average half-width (7-day trend)


def _ts18_oracle() -> str:
    hw = TS18_HALF_WIN
    return f"""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y_mic
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT d, dow, y_mic,
             CAST(sum(y_mic) OVER w AS BIGINT) AS s_w,
             CAST(count(*) OVER w AS BIGINT) AS n_w
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN {hw} PRECEDING AND {hw} FOLLOWING)
    ),
    detr AS (
      SELECT d, dow, y_mic,
             CASE WHEN s_w < 0 THEN -((2 * (-s_w) + n_w) // (2 * n_w))
                  ELSE (2 * s_w + n_w) // (2 * n_w) END AS trend_mic
      FROM tr
    ),
    seas AS (
      SELECT dow,
             CAST(sum(y_mic - trend_mic) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS nd
      FROM detr GROUP BY dow
    )
    SELECT d.d,
           CAST(d.y_mic AS DOUBLE) / 1e6 AS y,
           CAST(d.trend_mic AS DOUBLE) / 1e6 AS trend,
           CAST(CASE WHEN s.sd < 0 THEN -((2 * (-s.sd) + s.nd) // (2 * s.nd))
                     ELSE (2 * s.sd + s.nd) // (2 * s.nd) END AS DOUBLE) / 1e6
             AS seasonal,
           CAST((d.y_mic - d.trend_mic)
                - (CASE WHEN s.sd < 0 THEN -((2 * (-s.sd) + s.nd) // (2 * s.nd))
                        ELSE (2 * s.sd + s.nd) // (2 * s.nd) END)
                AS DOUBLE) / 1e6 AS residual
    FROM detr d JOIN seas s USING (dow)
    """


@query("ts18_seasonal_decompose", section="TS", oracle=_ts18_oracle())
def ts18_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily metric
    series: trend = centered {w}-day moving average, weekly seasonal =
    per-weekday mean of the detrended series, residual = remainder —
    the first diagnostic any time-series pipeline runs before anomaly
    detection or forecasting (the catalog's ts4 z-scores and ts17 MASE
    assume exactly this structure exists; this entry EXPOSES it).

    Numeric determinism: per-event values quantize to exact micro
    units at the scan, the daily sum / trend mean / seasonal mean are
    all exact BIGINT arithmetic with sign-peeled half-away integer
    division (Spark ``div`` truncates toward zero while DuckDB ``//``
    floors, so negatives peel the sign first — the moore-lewis rule),
    and the three components convert to double once at the end.

    Spark shapes: one partial-agg groupBy(day), a ≤366-row global
    window for the centered trend frame (bounded by the Aggregate —
    audit-accepted), a 7-row seasonal aggregate broadcast back.  At
    100 TB only the daily rollup touches full data."""
    hw = TS18_HALF_WIN
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d"),
            (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7
             ).alias("dow"),
            F.round(F.col("value") * 1000000).cast("bigint").alias("v_mic"),
        )
        .groupBy("d", "dow")
        .agg(F.sum("v_mic").alias("y_mic"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("d").rowsBetween(-hw, hw)
    half_div = (
        "CASE WHEN {s} < 0 THEN -((2 * (-({s})) + {n}) div (2 * {n}))"
        " ELSE (2 * ({s}) + {n}) div (2 * {n}) END"
    )
    detr = daily.select(
        "d",
        "dow",
        "y_mic",
        F.sum("y_mic").over(w).alias("s_w"),
        F.count("*").over(w).alias("n_w"),
    ).select(
        "d",
        "dow",
        "y_mic",
        F.expr(half_div.format(s="s_w", n="n_w")).alias("trend_mic"),
    )
    seas = detr.groupBy("dow").agg(
        F.sum(F.col("y_mic") - F.col("trend_mic")).alias("sd"),
        F.count("*").alias("nd"),
    )
    seas_mic = F.expr(half_div.format(s="sd", n="nd"))
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            "d",
            (F.col("y_mic").cast("double") / 1e6).alias("y"),
            (F.col("trend_mic").cast("double") / 1e6).alias("trend"),
            (seas_mic.cast("double") / 1e6).alias("seasonal"),
            (
                ((F.col("y_mic") - F.col("trend_mic")) - seas_mic).cast("double")
                / 1e6
            ).alias("residual"),
        )
    )


ts18_seasonal_decompose.__doc__ = ts18_seasonal_decompose.__doc__.format(
    w=2 * TS18_HALF_WIN + 1
)


# ---------------------------------------------------------------------------
# G9: fixed-round label propagation (community detection)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3
# broadcast the (node, lbl) table only while it is measurably small:
# 2M rows ≈ 32 MB serialized — comfortable on any executor profile.
# Past this the per-round join reverts to shuffle (the 100 TB path).
LPA_BROADCAST_MAX_NODES = 2_000_000


def _lpa_oracle() -> str:
    rounds = []
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""
    nl{i} AS (
      SELECT dst AS node, lbl, count(*) AS cnt
      FROM und e JOIN l{i - 1} l ON l.node = e.src
      GROUP BY dst, lbl
    ),
    l{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl) AS rn
        FROM nl{i}) WHERE rn = 1
    )""")
    return f"""
    WITH edges AS (
      SELECT DISTINCT 2 * o.o_custkey AS src, 2 * l.l_suppkey + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    und AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und),
    {",".join(rounds)}
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(node) AS BIGINT) AS min_node
    FROM l{LPA_ROUNDS} GROUP BY lbl
    """


@query("g9_label_propagation", section="G", oracle=_lpa_oracle())
def g9_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al.,
    2007) over the customer–supplier trade graph: every node starts as
    its own label; each round it adopts the MOST FREQUENT label among
    its neighbors (ties → smallest label).  After {r} rounds, report
    communities (label, size, min member).  Distinct from
    `g3_cc_components` — LPA finds densely-connected groups, not mere
    reachability, and the fixed round count makes the declarative
    semantics exact (classic LPA on bipartite graphs can oscillate
    under synchronous updates; a FIXED horizon is deterministic by
    construction and is what one scan-budgeted pass over 100 TB of
    edges gives you anyway).

    Spark shapes — the round-12 rework, built for ZERO exchanges per
    round: the undirected edge table is materialized ONCE, hash-
    partitioned by the RECEIVING endpoint (``repartition("dst")``)
    and cached — because {{dst}} ⊆ {{dst,lbl}} ⊆ every later grouping
    key, BOTH per-round aggregations (the (dst,lbl) neighbor-label
    count and the per-dst argmax via min(struct(-cnt, lbl)), the a18
    mode idiom) satisfy their required distribution from the cache's
    partitioning and plan with no Exchange at all (the edge dedup
    rides the same shuffle: dropDuplicates(src,dst) after
    repartition(dst) needs none either).  The label side of the join
    carries a SIZE-GATED broadcast hint — the node set is static, so
    its count is measured ONCE and the hint applies only under
    LPA_BROADCAST_MAX_NODES, NOT the unconditional pin the round-10
    advisor rejected (a checkpointed table is a LogicalRDD with
    unknown stats, so without the measured gate Catalyst can never
    choose broadcast).  Under the gate a whole LPA round is therefore
    ONE map-only stage over the edge cache; past it — 100 TB node
    counts — the hint drops out, the join reverts to shuffle, and the
    dst-partitioning still saves both agg exchanges.  Each round ends
    in one eager localCheckpoint (materialize + lineage truncation in
    a single job; blocks free on GC via the ContextCleaner), and the
    edge cache is explicitly released before returning.  Honesty note
    (BASELINE.md round-12): the round-10 0.53 s bench number was
    cross-repetition reuse of LEAKED caches via canonical-plan
    matching, not the cost of a fresh run — this shape is the honest
    fresh-run optimum, not a regression from that artifact."""
    und = _lpa_edges(spark, sf_dir).cache()
    labels = (
        und.select(F.col("dst").alias("node"))  # src set ≡ dst set (symmetric)
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    # static across rounds: one node-sized count decides the gate
    n_nodes = labels.count()
    for _ in range(LPA_ROUNDS):
        lbl_side = (
            F.broadcast(labels) if n_nodes <= LPA_BROADCAST_MAX_NODES else labels
        )
        # ONE job: materialize this round + truncate lineage; the
        # checkpointed blocks free on GC (ContextCleaner)
        labels = _lpa_round(und, lbl_side).localCheckpoint(eager=True)
    out = labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count("*").alias("size"), F.min("node").alias("min_node")
    )
    # the final labels table is checkpointed, so the edge cache has no
    # remaining consumer
    und.unpersist()
    return out


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected trade-graph edges, hash-partitioned by the receiving
    endpoint so every per-round aggregation is exchange-free (the
    caller caches)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.lit(2) * F.col("o_custkey")).alias("src"),
        (F.lit(2) * F.col("l_suppkey") + 1).alias("dst"),
    )
    return (
        pair.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
        .dropDuplicates(["src", "dst"])
    )


def _lpa_round(und: DataFrame, lbl_side: DataFrame) -> DataFrame:
    """One synchronous LPA round: neighbor-label count then per-node
    argmax.  On a dst-partitioned edge table with a broadcast label
    side this plans with ZERO shuffle exchanges (asserted by
    tests/test_round10.py::test_g9_round_is_broadcast_and_exchange_free)."""
    counted = (
        und.join(lbl_side, und.src == lbl_side.node)
        .groupBy("dst", "lbl")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counted.groupBy("dst")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl")))
            .getField("lbl")
            .alias("lbl")
        )
        .select(F.col("dst").alias("node"), "lbl")
    )


g9_label_propagation.__doc__ = g9_label_propagation.__doc__.format(r=LPA_ROUNDS)


# ---------------------------------------------------------------------------
# L3: sparse TF-IDF cosine top-k via posting-list join
# ---------------------------------------------------------------------------

SPARSE_QUERY_DOC = 0
SPARSE_K = 10


def _sparse_cosine_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY doc_id, w
    ),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    idf AS (
      SELECT w,
             CAST(round(ln(CAST(nn.n + 1 AS DOUBLE)
                           / CAST(count(DISTINCT doc_id) + 1 AS DOUBLE))
                        * 1000) AS BIGINT) AS idf_mil
      FROM tf, nn GROUP BY w, nn.n
    ),
    wts AS (
      SELECT tf.doc_id, tf.w, tf.tf * idf.idf_mil AS wt
      FROM tf JOIN idf USING (w)
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(sum(wt * wt) AS DOUBLE)) AS nrm
      FROM wts GROUP BY doc_id
    ),
    q AS (SELECT w, wt FROM wts WHERE doc_id = {SPARSE_QUERY_DOC}),
    nums AS (
      SELECT d.doc_id, CAST(sum(d.wt * q.wt) AS BIGINT) AS num
      FROM wts d JOIN q USING (w)
      WHERE d.doc_id <> {SPARSE_QUERY_DOC}
      GROUP BY d.doc_id
    ),
    scored AS (
      SELECT n.doc_id,
             CAST(n.num AS DOUBLE)
               / (nd.nrm * (SELECT nrm FROM norms
                            WHERE doc_id = {SPARSE_QUERY_DOC})) AS sim
      FROM nums n JOIN norms nd USING (doc_id)
    )
    SELECT doc_id, sim, CAST(rank AS INTEGER) AS rank FROM (
      SELECT doc_id, sim,
             row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
      FROM scored) WHERE rank <= {SPARSE_K}
    """


@query("l3_sparse_cosine_topk", section="L3", oracle=_sparse_cosine_oracle())
def l3_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k through an INVERTED-INDEX join — the
    lexical twin of the dense-embedding ANN family: documents sharing
    no token with the query never generate a candidate row, so the
    score join touches only the query's posting lists instead of the
    corpus (the same candidates-only shape as BM25, but producing a
    true cosine that slots into the RRF/MMR fusion entries).

    Numeric determinism: idf quantizes to integer milli-nats (the
    BM25 rule), weights and dot products are exact BIGINT products
    summed with map-side partials, and norms/similarity are IEEE
    sqrt/divide on bit-identical inputs — the output double is
    compared UNROUNDED because every input to the float ops is exact.

    Spark shapes: tf/idf are token-keyed partial aggs; the query
    vector (one doc's terms) broadcasts into the posting join; norms
    broadcast back onto candidate scores; TakeOrderedAndProject
    finishes top-k.  At 100 TB the posting table is the classic
    shardable inverted index and the query side stays KB-sized."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    nn = tf.agg(F.countDistinct("doc_id").alias("n"))
    idf = (
        tf.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(nn))
        .select(
            "w",
            F.round(
                F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1).cast("double"))
                * 1000
            )
            .cast("bigint")
            .alias("idf_mil"),
        )
    )
    # the weighted posting table is what production stores AS the
    # inverted index — checkpoint it once; its three lazy consumers
    # (norms, query vector, posting join) each re-ran the whole
    # explode + tf/idf chain (12 Generate nodes in one plan, measured)
    wts = (
        tf.join(idf, "w")
        .select("doc_id", "w", (F.col("tf") * F.col("idf_mil")).alias("wt"))
        .localCheckpoint(eager=True)
    )
    norms = (
        wts.groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("wt") * F.col("wt")).cast("double")).alias("nrm"))
        # doc-sized; consumed by both the query-norm filter and the
        # candidate score join
        .localCheckpoint(eager=True)
    )
    q = wts.filter(F.col("doc_id") == SPARSE_QUERY_DOC).select(
        "w", F.col("wt").alias("qwt")
    )
    qnorm = norms.filter(F.col("doc_id") == SPARSE_QUERY_DOC).select(
        F.col("nrm").alias("qnrm")
    )
    nums = (
        wts.filter(F.col("doc_id") != SPARSE_QUERY_DOC)
        .join(F.broadcast(q), "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("wt") * F.col("qwt")).alias("num"))
    )
    scored = (
        nums.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            (F.col("num").cast("double") / (F.col("nrm") * F.col("qnrm"))).alias("sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("sim").desc(), F.col("doc_id"))
    return (
        scored.orderBy(F.col("sim").desc(), F.col("doc_id"))
        .limit(SPARSE_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# G10: bipartite co-occurrence projection (supplier co-supply graph)
# ---------------------------------------------------------------------------

G10_TOP_K = 20


@query(
    "g10_cosupply_projection",
    section="G",
    oracle=f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    )
    SELECT supp_a, supp_b, n_orders, CAST(rank AS INTEGER) AS rank FROM (
      SELECT supp_a, supp_b, n_orders,
             row_number() OVER (ORDER BY n_orders DESC, supp_a, supp_b) AS rank
      FROM pairs) WHERE rank <= {G10_TOP_K}
    """,
)
def g10_cosupply_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-graph projection: collapse the order–supplier
    bipartite graph onto suppliers, weighting each supplier pair by
    the number of orders they co-supply — the standard way
    co-purchase / co-occurrence / collaborator graphs are built before
    any community or similarity analysis runs on them (g9's LPA and
    g2's triangles consume exactly this kind of projected edge list).

    Spark shapes: ONE pass over lineitem — the per-order distinct
    supplier set is a single order-keyed ``collect_set`` aggregate
    (bounded by k ≤ 7 lineitems per order), and the pair fan-out is a
    double explode of that set with supp_a < supp_b, so candidates
    are Σ per-order C(k,2), never a supplier×supplier cross —
    followed by one pair-keyed partial-agg count and
    TakeOrderedAndProject.  The earlier self-equi-join form computed
    the distinct (order, supplier) aggregate TWICE (the broadcast
    side of the join re-derived it; AQE cannot reuse a broadcast
    exchange) and paid a third exchange for the join itself.  At
    100 TB the order-keyed shuffle is the only full-data movement,
    and the k ≤ items-per-order bound keeps the fan-out linear in
    input."""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("supps"))
    )
    pairs = (
        per_order.select(F.explode("supps").alias("supp_a"), "supps")
        .select("supp_a", F.explode("supps").alias("supp_b"))
        .filter(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count("*").alias("n_orders"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_orders").desc(), "supp_a", "supp_b")
    return (
        pairs.orderBy(F.col("n_orders").desc(), "supp_a", "supp_b")
        .limit(G10_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


# ---------------------------------------------------------------------------
# TS20: heartbeat-gap outage windows
# ---------------------------------------------------------------------------

TS20_GAP_S = 1800  # liveness threshold: 30 min without an event


@query(
    "ts20_outage_windows",
    section="TS",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           prev_ts AS outage_start,
           ts AS outage_end,
           CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_s
    FROM seq
    WHERE prev_ts IS NOT NULL
      AND date_diff('second', prev_ts, ts) > {TS20_GAP_S}
    """,
)
def ts20_outage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat-gap inversion: turn a per-source event stream into
    its OUTAGE intervals — every gap between consecutive events that
    exceeds the {g}s liveness threshold becomes an (start, end,
    duration) row.  This is the batch/backfill twin of the streaming
    heartbeat monitor (`streaming/heartbeat.py`, reference R6): the
    stream side alerts on silence in real time; this entry reconstructs
    the historical downtime ledger SLO reports are computed from —
    and it is the complement of ts5 sessionization (sessions keep the
    dense spans; this keeps the holes between them).

    Spark shapes: one lag window partitioned by source key ordered by
    (ts, event_id) — the deterministic total order — then a filter;
    a single shuffle on the partition key, no joins.  Gap seconds are
    exact integer timestamp arithmetic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gap_s = (
        F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    ).cast("bigint")
    return (
        seq.filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.col("prev_ts").alias("outage_start"),
            F.col("ts").alias("outage_end"),
            gap_s.alias("gap_s"),
        )
        .filter(F.col("gap_s") > TS20_GAP_S)
    )


ts20_outage_windows.__doc__ = ts20_outage_windows.__doc__.format(g=TS20_GAP_S)


# ---------------------------------------------------------------------------
# ML16: multi-feature OLS via normal equations (Cramer's rule, in-plan)
# ---------------------------------------------------------------------------


def _ols2_moment_sql() -> str:
    # exact decimal moments of (x1=l_quantity, x2=l_discount,
    # y=l_extendedprice); quantity/discount/price are 2-dp-class
    # decimals, so products fit DECIMAL(38,8) exactly
    return """
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
             CAST(sum(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y
      FROM {lineitem}
    """


_OLS2_SOLVE_SQL = """
      SELECT
        (s11 - s1 * s1 / n) AS a11,
        (s12 - s1 * s2 / n) AS a12,
        (s22 - s2 * s2 / n) AS a22,
        (s1y - s1 * sy / n) AS b1,
        (s2y - s2 * sy / n) AS b2,
        n, s1, s2, sy
      FROM m
"""


# Multi-feature ordinary least squares solved in the plan via the
# normal equations + Cramer's rule: y = β₀ + β₁·quantity + β₂·discount
# over lineitem, from one aggregation pass of nine exact-decimal moments
# followed by a closed-form 2×2 solve — the data pass produces a tiny
# Gram matrix; the solve is O(p³) on p features, not on rows.  Every
# moment is an exact DECIMAL sum, so the betas are a fixed dag of IEEE
# double ops on bit-identical inputs and compare unrounded across
# engines.
sql_query(
    "ml16_ols_normal_eq",
    section="ML",
    text=f"""
    WITH m AS ({_ols2_moment_sql()}),
    c AS ({_OLS2_SOLVE_SQL}),
    sol AS (
      SELECT (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
             (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS beta2,
             n, s1, s2, sy
      FROM c
    )
    SELECT beta1, beta2,
           (sy - beta1 * s1 - beta2 * s2) / n AS intercept
    FROM sol
    """,
)


# ---------------------------------------------------------------------------
# DQ14: referential-integrity (orphan) audit
# ---------------------------------------------------------------------------

RI_CLAIMS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    (
        "lineitem.l_suppkey->supplier",
        "lineitem",
        "l_suppkey",
        "supplier",
        "s_suppkey",
    ),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


def _ri_oracle() -> str:
    parts = []
    for name, child, fk, parent, pk in RI_CLAIMS:
        parts.append(f"""
    SELECT '{name}' AS ri,
           CAST(count(*) AS BIGINT) AS n_child_rows,
           CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           (sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) = 0) AS holds
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{fk} = p.{pk}""")
    return " UNION ALL ".join(parts)


@query("dq14_ri_orphan_audit", section="DQ", oracle=_ri_oracle())
def dq14_ri_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for each declared foreign key,
    count child rows whose key has NO parent — the orphan check every
    warehouse loads run before exposing a table (and the reason MERGE
    pipelines quarantine rather than drop).  Complements `dq13`'s
    intra-table functional dependencies with the cross-table contract.

    Spark shapes: claims are GROUPED BY CHILD TABLE — each child
    streams exactly once, left-joined against every one of its
    parents' DISTINCT key sets in the same map stage (dimension-sized,
    so Catalyst broadcasts them all), and ONE aggregate emits every
    claim's null-count pair, unpivoted by stack().  The per-claim
    union form scanned lineitem three times for its three foreign
    keys; this form scans it once.  At 100 TB nothing child-sized
    shuffles."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, child, fk, parent, pk in RI_CLAIMS:
        by_child.setdefault(child, []).append((name, fk, parent, pk))
    outs = []
    for child, claims in by_child.items():
        j = load_table(spark, sf_dir, child)
        for i, (_, fk, parent, pk) in enumerate(claims):
            p = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"pk{i}"))
                .distinct()
            )
            j = j.join(F.broadcast(p), F.col(fk) == F.col(f"pk{i}"), "left")
        one = j.agg(
            F.count("*").alias("n_child_rows"),
            *[
                F.sum(
                    F.when(F.col(f"pk{i}").isNull(), 1).otherwise(0)
                ).alias(f"orph{i}")
                for i in range(len(claims))
            ],
        )
        stack_args = ", ".join(
            f"'{name}', n_child_rows, orph{i}"
            for i, (name, _, _, _) in enumerate(claims)
        )
        outs.append(
            one.selectExpr(
                f"stack({len(claims)}, {stack_args})"
                " AS (ri, n_child_rows, n_orphans)"
            ).select(
                "ri",
                "n_child_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# J19: as-of join with tolerance (max staleness)
# ---------------------------------------------------------------------------

J19_TOLERANCE_S = 3600  # accept a quote at most 1h stale


@query(
    "j19_asof_tolerance",
    section="J",
    oracle=f"""
    WITH a AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
    ),
    b AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT a.event_id, a.user_id, a.ts,
             max({{'t': b.ts, 'v': b.value}}) AS best
      FROM a LEFT JOIN b
        ON a.user_id = b.user_id
       AND b.ts <= a.ts
       AND date_diff('second', b.ts, a.ts) <= {J19_TOLERANCE_S}
      GROUP BY a.event_id, a.user_id, a.ts
    )
    SELECT event_id, user_id, ts,
           best.t AS matched_ts,
           best.v AS matched_value,
           CASE WHEN best.t IS NOT NULL
                THEN CAST(date_diff('second', best.t, ts) AS BIGINT)
                END AS staleness_s
    FROM matched
    """,
)
def j19_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A TOLERANCE: each 'view' event picks the latest
    prior 'purchase' by the same user — but only if it is at most
    {tol}s stale, else NULL.  The staleness bound is what production
    as-of joins (market-data quotes, feature lookups) actually ship
    with: an unboundedly old match is usually worse than no match, and
    the bound is also what makes the operator streamable (state can be
    evicted after the tolerance window — the same reason t9's interval
    join carries a range condition).

    Spark shapes: both sides bucket to the user key; the match is the
    union-sort-lag idiom `j8_asof` established, here with the
    tolerance as a post-lag filter so the join never materializes
    per-pair candidates (an equi+range join would); output is one row
    per left event, exact integer staleness.  Mirrors DuckDB's
    grouped max_by over the range-joined pairs — same (ts, value)
    lexicographic tie-break on simultaneous purchases."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    from pyspark.sql import Window

    # union-sort-lag as-of: tag sides, order by (ts, side, tie), carry
    # the last purchase (ts, value) forward within each user
    au = a.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("double").alias("bval"),
    )
    bu = b.select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("value").alias("bval"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "bval")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # last purchase at-or-before: max of (ts, value) structs over the
    # running frame, purchases only — ties on ts break on value then,
    # matching the oracle's lexicographic struct max ordering
    last_purchase = F.max(
        F.when(F.col("side") == 0, F.struct(F.col("ts").alias("t"), F.col("bval").alias("v")))
    ).over(w)
    merged = (
        au.unionByName(bu)
        .select("user_id", "ts", "side", "event_id", "bval",
                last_purchase.alias("best"))
        .filter(F.col("side") == 1)
    )
    stale = F.unix_timestamp("ts") - F.unix_timestamp(F.col("best.t"))
    ok = F.col("best").isNotNull() & (stale <= J19_TOLERANCE_S)
    return merged.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("best.t")).alias("matched_ts"),
        F.when(ok, F.col("best.v")).alias("matched_value"),
        F.when(ok, stale.cast("bigint")).alias("staleness_s"),
    )


j19_asof_tolerance.__doc__ = j19_asof_tolerance.__doc__.format(tol=J19_TOLERANCE_S)
