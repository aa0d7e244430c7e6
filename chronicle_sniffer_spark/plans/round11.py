"""Round-11 catalog additions.

- **L4 HTML → text extraction** (`l4_html_extract`,
  `l4_html_blocks`): the missing FIRST stage of the crawl pipeline —
  everything downstream already exists (l4_c4_quality_filter,
  l7_template_dedup, l4_pii_scrub).  Pure-expression tag stripping,
  <script>/<style> content removal, entity decoding, and
  boilerplate/navigation removal by per-block link density, all in
  the Java-regex ∩ RE2 common subset so the identical semantics run
  in Spark codegen AND the DuckDB oracle.  The fixture is synthetic
  HTML built deterministically from the documents table by ONE
  expression string shared verbatim between both engines.

Reference scope note: the reference engine (processor/
json2udm_cloud.py) is packet-side and has no markup stage; these
extend the declared LLM-pipeline surface (SURVEY.md §2B L4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronicle_sniffer_spark.operators.html import (
    _DENSITY_PCT,
    _block_cte,
    _pages,
    html_blocks,
    html_extract,
)
from chronicle_sniffer_spark.operators.sketches import _LEHMER_A, _LEHMER_M, KMV_K, _kmv_ranked
from chronicle_sniffer_spark.plans.catalog import query
from chronicle_sniffer_spark.tables import load_table, session_memo, session_tmpdir, spread

# ---------------------------------------------------------------------------
# L4: HTML → text extraction
# ---------------------------------------------------------------------------

@query(
    "l4_html_blocks",
    section="L4",
    oracle=_block_cte()
    + """
    SELECT doc_id, pos, text, text_len, anchor_len, kept
    FROM nonempty
    """,
)
def l4_html_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block extraction audit for the HTML → text stage: every
    non-empty block of the synthetic page with its visible text, text
    length, anchor-text length, and the link-density boilerplate
    verdict (kept ⇔ 100·anchor_len ≤ 40·text_len, integer math).  The
    audit row set is what a crawl-cleanup run inspects before
    trusting the extraction: nav/related/footer blocks must read
    kept=false, heading and prose kept=true.

    Scale shape: narrow per-row regex map + one posexplode; no
    shuffle at all (the audit is row-parallel end to end)."""
    return html_blocks(_pages(spark, sf_dir), max_density_pct=_DENSITY_PCT)


@query(
    "l4_html_extract",
    section="L4",
    oracle=_block_cte()
    + """
    , agg AS (
      SELECT doc_id,
             string_agg(CASE WHEN kept THEN text END, ' ' ORDER BY pos) AS text,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
             CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS INTEGER) AS n_dropped
      FROM nonempty GROUP BY doc_id
    )
    SELECT c.doc_id, c.title,
           coalesce(a.text, '') AS text,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.n_dropped, 0) AS n_dropped
    FROM clean c LEFT JOIN agg a ON a.doc_id = c.doc_id
    """,
)
def l4_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup → training text: strip <script>/<style> content,
    segment into blocks at block-element close tags, drop link-dense
    boilerplate (nav bars, related-links boxes, footers), strip tags,
    decode entities, and reassemble the surviving blocks in document
    order with the entity-decoded <title>.

    The pipeline is operators/html.py — every step a codegen column
    expression in the Java-regex ∩ RE2 common subset, so this oracle
    runs the IDENTICAL semantics (and the page fixture is one
    expression string shared verbatim).  Every 5th document plants an
    inline link inside prose to pin the keep-side behavior (anchor
    TEXT survives when the block is low-density); nav/related/footer
    pin the drop side (n_dropped ≥ 3 on every row)."""
    return html_extract(_pages(spark, sf_dir), max_density_pct=_DENSITY_PCT)


# ---------------------------------------------------------------------------
# ML22: k-fold (out-of-fold) target encoding
# ---------------------------------------------------------------------------

KFOLD_K = 5

_ML22_ORACLE = f"""
    WITH r AS (
      SELECT o_orderkey, o_orderpriority,
             CAST((o_orderkey * {_LEHMER_A}) % {_LEHMER_M} % {KFOLD_K} AS INTEGER)
               AS fold,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    gf AS (
      SELECT o_orderpriority, fold,
             sum(y) AS s_f, CAST(count(*) AS BIGINT) AS n_f
      FROM r GROUP BY o_orderpriority, fold
    ),
    g AS (
      SELECT o_orderpriority,
             sum(s_f) AS s_c, CAST(sum(n_f) AS BIGINT) AS n_c
      FROM gf GROUP BY o_orderpriority
    )
    SELECT r.o_orderkey, r.o_orderpriority, r.fold,
           CASE WHEN g.n_c > gf.n_f
                THEN CAST((2 * (CAST((g.s_c - gf.s_f) * 100 AS BIGINT) * 10000)
                           + (g.n_c - gf.n_f)) // (2 * (g.n_c - gf.n_f))
                     AS DOUBLE) / 1e6
                END AS enc
    FROM r
    JOIN gf ON gf.o_orderpriority = r.o_orderpriority AND gf.fold = r.fold
    JOIN g  ON g.o_orderpriority = r.o_orderpriority
"""


@query("ml22_kfold_target_encode", section="ML", oracle=_ML22_ORACLE)
def ml22_kfold_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold (out-of-fold) target encoding — the production variant
    of ml21's leave-one-out: rows are assigned to one of K folds by a
    seed-free Lehmer hash of the key, and each row's category is
    encoded with the mean target of the OTHER folds,
    (Σ_c y − Σ_fold y) / (n_c − n_fold).  Out-of-fold encoding is what
    gradient-boosting pipelines actually ship (LOO has higher variance
    and leaks through the n−1 denominator on small categories); the
    fold hash is deterministic so train/serve skew is impossible.

    Spark shapes: one (category, fold) partial-agg groupBy — K×|cats|
    rows — re-aggregated to the category model in-plan (no second
    scan), both broadcast back onto the fact table; encode is
    map-side.  Sums stay in exact DECIMAL cents and the 6-dp rounding
    is the integer half-away idiom ((2·cents·10⁴ + den) div (2·den)),
    so there is no cross-engine rounding channel anywhere.  Folds with
    the whole category (n_c = n_f) encode NULL rather than leak."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            f"CAST((o_orderkey * {_LEHMER_A}) % {_LEHMER_M} % {KFOLD_K} AS INT)"
        ).alias("fold"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    gf = o.groupBy("o_orderpriority", "fold").agg(
        F.sum("y").alias("s_f"), F.count("*").alias("n_f")
    )
    g = gf.groupBy("o_orderpriority").agg(
        F.sum("s_f").alias("s_c"), F.sum("n_f").alias("n_c")
    )
    enc_mic = F.expr(
        "(CAST(2 AS DECIMAL(1,0))"
        " * (CAST((s_c - s_f) * 100 AS DECIMAL(20,0)) * CAST(10000 AS DECIMAL(5,0)))"
        " + CAST(n_c - n_f AS DECIMAL(11,0)))"
        " div (2 * (n_c - n_f))"
    )
    return (
        o.join(F.broadcast(gf), ["o_orderpriority", "fold"])
        .join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "fold",
            F.when(F.col("n_c") > F.col("n_f"), enc_mic.cast("double") / F.lit(1e6))
            .alias("enc"),
        )
    )


# ---------------------------------------------------------------------------
# TS22: additive Holt-Winters (level + trend + m=7 seasonal) forecast
# ---------------------------------------------------------------------------

# binary-exact smoothing constants: 0.5/0.25 are dyadic, so (1-a) etc.
# are EXACT doubles in both engines and the recursions' multiply-add
# streams are bit-identical before the final 6-dp rounding
HW_ALPHA, HW_BETA, HW_GAMMA, HW_M, HW_H = 0.5, 0.25, 0.25, 7, 7

_TS22_LNEW = (
    f"{HW_ALPHA} * (r.value - w.seas[1]) + {1 - HW_ALPHA} * (w.l + w.b)"
)

_TS22_ORACLE = f"""
    WITH RECURSIVE ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    w(user_id, rn, l, b, seas) AS (
      SELECT user_id, rn, value, CAST(0.0 AS DOUBLE),
             CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[])
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.user_id, r.rn,
             {_TS22_LNEW},
             {HW_BETA} * (({_TS22_LNEW}) - w.l) + {1 - HW_BETA} * w.b,
             list_concat(
               w.seas[2:{HW_M}],
               [{HW_GAMMA} * (r.value - ({_TS22_LNEW}))
                + {1 - HW_GAMMA} * w.seas[1]])
      FROM ranked r JOIN w ON r.user_id = w.user_id AND r.rn = w.rn + 1
    ),
    last AS (SELECT user_id, max(rn) AS n FROM ranked GROUP BY user_id),
    fin AS (
      SELECT w.user_id, w.l, w.b, w.seas, CAST(l2.n AS BIGINT) AS n_events
      FROM last l2 JOIN w ON w.user_id = l2.user_id AND w.rn = l2.n
    )
    SELECT user_id, n_events, CAST(h AS INTEGER) AS h,
           round(l + h * b + seas[h], 6) AS forecast
    FROM fin, (SELECT unnest(generate_series(1, {HW_H})) AS h)
"""


@query("ts22_holt_winters", section="TS", oracle=_TS22_ORACLE)
def ts22_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters per key: the three-state seasonal
    extension of ts9's Holt linear — level/trend plus an m=7
    position-based seasonal vector, with an h=1..7 forecast fan.
    Update (standard additive form, init l=x₁, b=0, seas=0⃗ at t=1):

        l_t = α(x_t − s_{{t−m}}) + (1−α)(l_{{t−1}} + b_{{t−1}})
        b_t = β(l_t − l_{{t−1}}) + (1−β)b_{{t−1}}
        s_t = γ(x_t − l_t) + (1−γ)s_{{t−m}}
        ŷ_{{n+h}} = l_n + h·b_n + s_{{n+h−m}}

    Distributed shape — the round-14 rework shared with ts8/ts9: ONE
    user_id shuffle + native per-partition sort into a ``mapInPandas``
    pass carrying the (user, count, level, trend, seasonal-vector)
    state across Arrow batch boundaries, so per-group Python/pandas
    overhead is amortized to one call per BATCH (guide §4) and state
    stays O(m) per in-flight user.  The within-key recursion and the
    multiply-add order are unchanged from the grouped-map form (the
    oracle carries the seasonal vector as a LIST column through the
    recursive CTE).  Smoothing constants are dyadic (0.5/0.25) so
    both engines' multiply-add streams are bit-identical; rounding
    happens once, at the forecast."""
    import math

    import pandas as pd

    def _r6(x: float) -> float:
        # half-AWAY-from-zero, matching Spark/DuckDB round(): the
        # dyadic smoothing constants make exact 6-dp ties
        # representable, where Python round()'s half-even differs
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    _COLS = ["user_id", "n_events", "h", "forecast"]

    def _hw_part(batches):
        uid = None
        n = 0
        l, b = 0.0, 0.0
        seas: list[float] = [0.0] * HW_M
        out: list[tuple] = []

        def rows(uid, n, l, b, seas):
            return [
                (uid, n, h, _r6(l + h * b + seas[h - 1]))
                for h in range(1, HW_H + 1)
            ]

        for pdf in batches:
            uids = pdf["user_id"].to_numpy()
            vals = pdf["value"].to_numpy()
            for j in range(len(uids)):
                u = uids[j]
                if u != uid:
                    if uid is not None:
                        out.extend(rows(uid, n, l, b, seas))
                    uid, n = u, 0
                x = vals[j]
                if n == 0:
                    l, b = x, 0.0
                    seas = [0.0] * HW_M
                else:
                    s_old = seas[0]
                    l_new = HW_ALPHA * (x - s_old) + (1 - HW_ALPHA) * (l + b)
                    b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
                    s_new = HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * s_old
                    seas = seas[1:] + [s_new]
                    l = l_new
                n += 1
            if out:
                yield pd.DataFrame(out, columns=_COLS)
                out = []
        if uid is not None:
            yield pd.DataFrame(rows(uid, n, l, b, seas), columns=_COLS)

    return (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "value")
        .mapInPandas(
            _hw_part, "user_id bigint, n_events bigint, h int, forecast double"
        )
    )


# ---------------------------------------------------------------------------
# A24: KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

_A24_ORACLE = f"""
    WITH d AS (
      SELECT DISTINCT o_orderpriority,
             (o_custkey * {_LEHMER_A}) % {_LEHMER_M} AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
      FROM d
    ),
    ex AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_exact
      FROM d GROUP BY o_orderpriority
    )
    SELECT ex.o_orderpriority, ex.n_exact,
           CAST(r.h AS BIGINT) AS kth_min,
           round(CASE WHEN r.h IS NULL THEN CAST(ex.n_exact AS DOUBLE)
                      ELSE ({KMV_K} - 1) * CAST({_LEHMER_M} AS DOUBLE)
                           / CAST(r.h AS DOUBLE) END, 6) AS kmv_est
    FROM ex LEFT JOIN (SELECT * FROM ranked WHERE rn = {KMV_K}) r
      USING (o_orderpriority)
"""


@query("a24_kmv_distinct", section="A3", oracle=_A24_ORACLE)
def a24_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al.) distinct-count sketch
    per group: keep the K smallest distinct hash values; the K-th
    minimum h₍ₖ₎ estimates NDV ≈ (K−1)·M/h₍ₖ₎.  The sketch the
    repo's HLL entries (a3b) complement: KMV supports EXACT set
    algebra on the sketches themselves (intersection via the common
    K-minima) and is trivially mergeable — the union's K-minima are
    the K smallest of the parts' K-minima, proven by the pytest
    merge-equivalence property (tests/test_round11.py).

    Determinism: the hash is the seed-free Lehmer bijection on the
    key (v·48271 mod 2³¹−1), so distinct keys ↔ distinct hashes and
    both engines rank the identical integers; the estimator is one
    exact-int→double division.  Groups with fewer than K distinct
    keys report their exact count (the sketch is exact below K by
    construction).

    Spark shapes — the round-12 production path: the sketch branch
    caps each Arrow batch to its per-group K smallest DISTINCT hashes
    *before any exchange* (mapInPandas at the scan edge — the
    sketch's raison d'être: what crosses the shuffle is ≤ K rows per
    (group, batch), never the raw key stream).  Correct by the same
    merge invariant the pytest proves: every global K-minimum is a
    K-minimum of whichever batch holds it, so the union of per-batch
    caps contains the global K-minima exactly.  The capped rows —
    sketch-sized — then dedup + window-rank to h₍ₖ₎.  The exact
    branch (n_exact is part of the declared output) is a plain
    count(distinct h): partial-aggregated map-side, the volume the
    oracle gate pays anyway — a24b_kmv_production is the same sketch
    WITHOUT that branch (what a real 100 TB job runs)."""
    base, ranked = _kmv_ranked(spark, sf_dir)
    ex = base.groupBy("o_orderpriority").agg(
        F.count_distinct(F.col("h")).alias("n_exact")
    )
    kth = ranked.filter(F.col("rn") == KMV_K).select(
        "o_orderpriority", F.col("h").alias("kth_min")
    )
    return ex.join(kth, "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_exact",
        F.col("kth_min").cast("bigint").alias("kth_min"),
        F.round(
            F.when(
                F.col("kth_min").isNull(), F.col("n_exact").cast("double")
            ).otherwise(
                F.lit(KMV_K - 1)
                * F.lit(float(_LEHMER_M))
                / F.col("kth_min").cast("double")
            ),
            6,
        ).alias("kmv_est"),
    )


# ---------------------------------------------------------------------------
# G12: bounded-hop cheapest path (min-plus relaxation rounds)
# ---------------------------------------------------------------------------

G12_SRC_CUST = 1
G12_ROUNDS = 4
# broadcast the frontier only while its upper bound (the static node
# count) is measurably small — the g9 size-gated policy
G12_BROADCAST_MAX_NODES = 2_000_000


def _g12_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, G12_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT und.v AS node, {prev}.dist + und.w AS dist
        FROM {prev} JOIN und ON und.u = {prev}.node
      ) GROUP BY node
    )"""
        )
        prev = f"d{i}"
    return f"""
    WITH e AS (
      SELECT 2 * o.o_custkey AS u, 2 * l.l_suppkey + 1 AS v,
             CAST(min(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    und AS (SELECT u, v, w FROM e UNION ALL SELECT v AS u, u AS v, w FROM e),
    d0 AS (SELECT CAST({2 * G12_SRC_CUST} AS BIGINT) AS node,
                  CAST(0 AS BIGINT) AS dist),
    {",".join(rounds)}
    SELECT node, dist AS dist_cents FROM d{G12_ROUNDS}
    """


@query("g12_bounded_cheapest_path", section="G", oracle=_g12_oracle())
def g12_bounded_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop cheapest path: {r} min-plus relaxation rounds from
    one source over the weighted customer–supplier bipartite graph
    (edge weight = cheapest line item between the pair, exact cents) —
    distributed Bellman-Ford with a fixed hop horizon, the weighted
    generalization of g5's BFS.  A fixed horizon keeps the plan
    declarative AND is what fraud/supply-chain reachability queries
    actually ask ("cheapest exposure within 4 relationships").

    Spark shapes — the g9 round-12 rework applied to min-plus: the
    weighted undirected edge table is built ONCE, hash-partitioned by
    the relax TARGET (``repartition("v")`` before the per-pair
    min-weight agg, whose clustering {{v,u}} ⊇ {{v}} the partitioning
    already satisfies — the weight dedup rides the one build shuffle)
    and cached.  Per round the frontier side carries the g9
    SIZE-GATED broadcast hint (its upper bound — the static node
    count — is measured once; past the gate the join reverts to
    shuffle, the 100 TB path), so the edge-sized relax join AND the
    edge-sized min(v) reduction are ONE map-only stage over the
    cache; only the frontier∪reduction union — node-sized — pays a
    shuffle, and min(min(relaxed), dist) ≡ min(dist ∪ relaxed) by
    associativity.  Min-plus sums stay in exact BIGINT cents so
    relaxation order can never matter.  Each round ends in one eager
    localCheckpoint (materialize + lineage truncation in a single
    job; the earlier cache()+count() pair ran two jobs per round)."""
    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    pair = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (2 * F.col("o_custkey")).alias("u"),
        (2 * F.col("l_suppkey") + 1).alias("v"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    und = (
        pair.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v"), F.col("w")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v", "e.w")
        .repartition("v")
        .groupBy("v", "u")
        .agg(F.min("w").alias("w"))
        .cache()
    )
    spark_ = und.sparkSession
    dist = spark_.createDataFrame(
        [(2 * G12_SRC_CUST, 0)], "node bigint, dist bigint"
    )
    # the frontier is bounded by the node count, which is static: one
    # measured count gates the per-round broadcast hint (g9 policy —
    # a checkpointed frontier is a LogicalRDD with unknown stats, so
    # an ungated plan falls to shuffle joins even while dist is tiny);
    # v ranges over ALL nodes (und is symmetric), so distinct(v) is
    # the node set and needs no exchange on the v-partitioned cache
    n_nodes = und.select("v").distinct().count()
    small = n_nodes <= G12_BROADCAST_MAX_NODES
    for _ in range(G12_ROUNDS):
        dist_side = F.broadcast(dist) if small else dist
        relaxed = dist_side.join(und, dist_side.node == und.u).select(
            "v", (F.col("dist") + F.col("w")).alias("dist")
        )
        # exchange-free on the v-partitioned cache: reduce the
        # edge-sized relaxation BEFORE the union, so the only shuffle
        # per round is node-sized
        relaxed_min = (
            relaxed.groupBy("v")
            .agg(F.min("dist").alias("dist"))
            .select(F.col("v").alias("node"), "dist")
        )
        dist = dist.unionByName(relaxed_min).groupBy("node").agg(
            F.min("dist").alias("dist")
        )
        if small:
            # under the broadcast gate the frontier is node-sized —
            # collapse to a HANDFUL of partitions so the next round's
            # broadcast collect stays a small job.  Not coalesce(1):
            # coalesce propagates into the shuffle read, and one
            # partition would serialize the node-sized groupBy reduce
            # for every graph up to the 2M-node gate (round-12
            # advisor finding — a wall-clock cliff near the boundary)
            dist = dist.coalesce(4)
        # ONE job per round: materialize + truncate lineage (g9
        # policy); blocks free on GC via the ContextCleaner
        dist = dist.localCheckpoint(eager=True)
    out = dist.select("node", F.col("dist").alias("dist_cents"))
    und.unpersist()
    return out


g12_bounded_cheapest_path.__doc__ = g12_bounded_cheapest_path.__doc__.format(
    r=G12_ROUNDS
)


# ---------------------------------------------------------------------------
# L4: markdown → text extraction
# ---------------------------------------------------------------------------

# Deterministic markdown page, shared VERBATIM between engines (the
# html-entry technique).  chr(10) builds real line structure; every
# extraction rule is exercised: an H1 title + H2 section, bold/emph,
# an inline link and inline code, a fenced code block whose content
# must NOT leak, bullets, a blockquote, and the document body.
MD_PAGE_SQL = (
    "'# Doc ' || CAST(doc_id AS STRING) || ': ' || lang || ' notes' || chr(10)"
    " || 'Some **bold** and *emphasis* over ' || substr(text, 1, 60) || chr(10)"
    " || '## Usage' || chr(10)"
    " || 'Install via [the guide](https://example.com/g' || CAST(doc_id AS STRING)"
    " || ') then run `cmd --id ' || CAST(doc_id AS STRING) || '`.' || chr(10)"
    " || '```' || chr(10) || 'secret_code(' || CAST(doc_id AS STRING) || ')'"
    " || chr(10) || 'x = doc * 2' || chr(10) || '```' || chr(10)"
    " || '- item one' || chr(10) || '- item ' || lang || chr(10)"
    " || '> quoted wisdom here' || chr(10)"
    " || text"
)

_MD_DECODE_DUCK = """
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(md, '```[^`]*```', ' ', 'g'),
          '\\[([^\\]]*)\\]\\(([^)]*)\\)', '\\1', 'g'),
        '`', ''), '*', ''), '_', ''), '#', ''),
        chr(10) || '> ', chr(10)), chr(10) || '- ', chr(10)),
      '[ \t\n\r\f]+', ' ', 'g'))
"""


@query(
    "l4_markdown_extract",
    section="L4",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id, {MD_PAGE_SQL} AS md FROM documents
    )
    SELECT doc_id,
           trim(regexp_extract(md, '(^|\n)#+ *([^\n]*)', 2)) AS title,
           CAST(floor((length(md) - length(replace(md, '```', ''))) / 3 / 2)
                AS INTEGER) AS n_code_blocks,
           CAST((length(chr(10) || md)
                 - length(replace(chr(10) || md, chr(10) || '#', ''))) / 2
                AS INTEGER) AS n_headings,
           CAST((length(md) - length(replace(md, '](', ''))) / 2 AS INTEGER)
             AS n_links,
           md5({_MD_DECODE_DUCK}) AS text_md5,
           CAST(length({_MD_DECODE_DUCK}) AS INTEGER) AS n_chars
    FROM pages
    """,
)
def l4_markdown_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown → training text (operators/markdown.py): fenced code
    content removed, links unwrapped to anchor text, inline-code/
    emphasis/heading markers stripped, blockquote and bullet prefixes
    dropped, whitespace normalized — plus the structural counts a
    curation pipeline filters on (code-block/heading/link counts, the
    standard "too much code / link farm" signals) and the H1 title.

    Same engine-portability contract as l4_html_extract: regexes in
    the Java∩RE2 subset, counts via replace-length arithmetic, the
    page fixture one expression string shared verbatim; the only
    dialect split is capture-group replacement ($1 vs \\\\1), stated in
    the operator module.  Narrow per-row map, no shuffle; spread()
    ahead of the regex work (the single-file-scan rule)."""
    from chronicle_sniffer_spark.operators.markdown import (
        md_counts,
        md_text,
        md_title,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ).select("doc_id", F.expr(MD_PAGE_SQL).alias("md"))
    md = F.col("md")
    counts = md_counts(md)
    txt = md_text(md)
    return docs.select(
        "doc_id",
        md_title(md).alias("title"),
        counts["n_code_blocks"].alias("n_code_blocks"),
        counts["n_headings"].alias("n_headings"),
        counts["n_links"].alias("n_links"),
        F.md5(txt.cast("binary")).alias("text_md5"),
        F.length(txt).cast("int").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# S19: manifest-committed table — snapshot scan + time travel
# ---------------------------------------------------------------------------


def _manifest_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+sf) a manifest-committed rollup table
    from three deterministic event slices — three epochs through the
    SAME merge path the streaming sink uses (streaming/incremental.py),
    so the batch entry exercises the production write protocol:
    write-once bucket files + one atomic manifest flip per epoch."""
    from chronicle_sniffer_spark.streaming.incremental import merge_batch

    def build() -> str:
        table = session_tmpdir("css_mstore_")
        ev = load_table(spark, sf_dir, "events")
        for epoch in range(3):
            merge_batch(spark, table, ev.filter(F.col("event_id") % 3 == epoch), epoch)
        return table

    return session_memo(spark, ("s19_mstore", os.path.abspath(sf_dir)), build)


_S19_ORACLE = """
    SELECT CAST(0 AS INTEGER) AS snap,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT CAST(2 AS INTEGER) AS snap,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
"""


@query("s19_manifest_store_scan", section="S8", oracle=_S19_ORACLE)
def s19_manifest_store_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a manifest-committed bucket store at two snapshot versions
    — the read half of the round-11 atomic-manifest protocol
    (streaming/manifest.py), driven through the oracle gate: version 0
    must serve EXACTLY the epoch-0 merge's state (time travel) and the
    latest version the fully-merged state, each resolved through one
    atomic manifest file (a reader can never see buckets from two
    different commits — the crash-injection pytests prove the write
    side, this entry hash-checks the read side against the raw data).

    Scale shape: the store is written once per session by the same
    distributed merge the streaming sink uses; reads list O(buckets)
    paths from O(1) manifest metadata and scan only those files —
    every pushdown property of a plain parquet scan is preserved."""
    from chronicle_sniffer_spark.streaming.incremental import _read_table

    table = _manifest_store(spark, sf_dir)

    def rollup(df: DataFrame, snap: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_value").cast("double").alias("total_value"),
        ).select(F.lit(snap).cast("int").alias("snap"), "*")

    v0 = rollup(_read_table(spark, table, version=0), 0)
    latest = rollup(_read_table(spark, table), 2)
    return v0.unionByName(latest)


# ---------------------------------------------------------------------------
# ML23: bucketed precision-recall curve
# ---------------------------------------------------------------------------

PR_BUCKETS = 512


def _ml23_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT CAST(o_totalprice * 100 AS BIGINT) AS score_c,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    rng AS (SELECT min(score_c) AS lo, max(score_c) AS hi FROM scored),
    b AS (
      SELECT CAST(CASE WHEN hi = lo THEN 0
                       ELSE ((score_c - lo) * {PR_BUCKETS - 1}) // (hi - lo)
                  END AS INTEGER) AS bucket,
             y
      FROM scored, rng
    ),
    per AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM b GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, n, pos,
             CAST(sum(n)   OVER w AS BIGINT) AS cn,
             CAST(sum(pos) OVER w AS BIGINT) AS cpos,
             CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      FROM per
      WINDOW w AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT bucket, n, pos,
           round(CAST(cpos AS DOUBLE) / CAST(cn AS DOUBLE), 6) AS precision_at,
           round(CAST(cpos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6) AS recall_at
    FROM cum
    """


@query("ml23_pr_curve", section="ML3", oracle=_ml23_oracle())
def ml23_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed precision-recall curve: scores (order value, exact
    cents) land in {b} equi-width integer buckets; descending
    cumulative positives/totals over the bucket axis give
    precision@threshold and recall@threshold per bucket — the curve a
    model dashboard renders (complements ml8's exact AUC and ml7's
    calibration bins).

    Scale shape: one groupBy collapses N rows to ≤{b} bucket rows
    (map-side partial agg), so the global cumulative window runs over
    a LITERALLY bounded relation — the audit-accepted pattern — and
    bucket assignment is pure integer arithmetic ((x−lo)·({b}−1)
    div (hi−lo)) on a broadcast 1-row range, so no float boundary can
    move a row across engines."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    rng = o.agg(F.min("score_c").alias("lo"), F.max("score_c").alias("hi"))
    # bucket index in pure INTEGER division: CAST(double AS INT)
    # truncates on Spark but rounds on DuckDB, so a float quotient can
    # never be allowed to reach the cast
    b = o.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.expr(f"(score_c - lo) * {PR_BUCKETS - 1} div (hi - lo)")
        )
        .cast("int")
        .alias("bucket"),
        "y",
    )
    per = b.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("y").cast("bigint").alias("pos")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return per.select(
        "bucket",
        "n",
        "pos",
        F.round(
            F.sum("pos").over(w).cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("precision_at"),
        F.round(
            F.sum("pos").over(w).cast("double")
            / F.sum("pos").over(wall).cast("double"),
            6,
        ).alias("recall_at"),
    )


ml23_pr_curve.__doc__ = ml23_pr_curve.__doc__.format(b=PR_BUCKETS)


# ---------------------------------------------------------------------------
# A25: Gini coefficient of token mass per source
# ---------------------------------------------------------------------------

_A25_ORACLE = """
    WITH sig AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      FROM documents
    ),
    ranked AS (
      SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n,
             CAST(sum(x) OVER (PARTITION BY source) AS BIGINT) AS sx
      FROM sig
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(sx) AS BIGINT) AS total_tokens,
           round(CAST(2 * sum(i * x) - (max(n) + 1) * max(sx) AS DOUBLE)
                 / CAST(max(n) * max(sx) AS DOUBLE), 6) AS gini
    FROM ranked GROUP BY source
"""


@query("a25_gini_token_inequality", section="A1", oracle=_A25_ORACLE)
def a25_gini_token_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-document token mass within each source
    — the inequality metric data-mixing work reads before setting
    sampling weights (a source whose token mass concentrates in a few
    giant documents behaves very differently under doc-level sampling
    than its doc count suggests).  Exact rank formula on sorted
    values: G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx).

    Scale shape: one per-source rank window (parallel across sources)
    + one grouped aggregate; every term is exact BIGINT (ranks are
    deterministic with the (x, doc_id) tie-break), so the single
    double division at the end sees identical integers in both
    engines."""
    sig = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("x"),
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("source")
    ranked = sig.select(
        "source",
        "x",
        F.row_number().over(wp.orderBy("x", "doc_id")).alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("sx").cast("bigint").alias("total_tokens"),
        F.round(
            (
                2 * F.sum(F.col("i") * F.col("x"))
                - (F.max("n") + 1) * F.max("sx")
            ).cast("double")
            / (F.max("n") * F.max("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# L1: exact dedup keeping the best representative per group
# ---------------------------------------------------------------------------

_L1B_ORACLE = """
    WITH sig AS (
      SELECT doc_id, source, md5(text) AS h,
             CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS quality
      FROM documents
    ),
    pick AS (
      SELECT h,
             CAST(count(*) AS BIGINT) AS n_copies,
             (max({'q': quality, 'neg': -doc_id})).neg AS neg_pick
      FROM sig GROUP BY h
    )
    SELECT s.doc_id, s.source, p.n_copies,
           s.doc_id = -p.neg_pick AS kept
    FROM sig s JOIN pick p ON p.h = s.h
"""


@query("l1_dedup_keep_best", section="L1", oracle=_L1B_ORACLE)
def l1_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a KEEP-BEST policy: hash groups pick one
    surviving representative by (quality desc, doc_id asc) — the
    production refinement of l1_exact_dedup's dropDuplicates, which
    keeps an ARBITRARY row; curation pipelines keep the highest-
    quality copy and audit the rest (kept=false rows carry their
    group size for the removal report).

    Scale shape: one hash groupBy building a broadcast-sized pick
    table (one row per distinct hash... itself corpus-sized, so the
    join back is hash-keyed, NOT broadcast — Catalyst decides), the
    deterministic argmax is the lexicographic struct-max idiom
    (max(struct(quality, -doc_id))), map-side combinable."""
    sig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.length(F.regexp_replace("text", " ", "")).cast("bigint").alias("quality"),
    )
    pick = sig.groupBy("h").agg(
        F.count("*").alias("n_copies"),
        F.max(F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("neg")))
        .getField("neg")
        .alias("neg_pick"),
    )
    return sig.join(pick, "h").select(
        "doc_id",
        "source",
        "n_copies",
        (F.col("doc_id") == -F.col("neg_pick")).alias("kept"),
    )


# ---------------------------------------------------------------------------
# J21: nearest-value join (as-of generalized to a non-time axis)
# ---------------------------------------------------------------------------

_J21_ORACLE = """
    WITH p AS (
      SELECT event_id, user_id, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    c AS (
      SELECT DISTINCT user_id, value AS c_value
      FROM events WHERE event_type = 'click' AND value IS NOT NULL
    ),
    below AS (
      SELECT p.event_id, c.c_value AS below_value
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.value >= c.c_value
    ),
    above AS (
      SELECT p.event_id, c.c_value AS above_value
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.value <= c.c_value
    )
    SELECT p.event_id, p.user_id, p.value AS p_value,
           b.below_value, a.above_value,
           CASE WHEN b.below_value IS NULL THEN a.above_value
                WHEN a.above_value IS NULL THEN b.below_value
                WHEN (p.value - b.below_value) <= (a.above_value - p.value)
                  THEN b.below_value
                ELSE a.above_value END AS matched_value
    FROM p JOIN below b USING (event_id) JOIN above a USING (event_id)
"""


@query("j21_nearest_value_join", section="J8", oracle=_J21_ORACLE)
def j21_nearest_value_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-VALUE join: for each purchase, the click (same user)
    with the closest value — the as-of idiom generalized off the time
    axis (amount-matching: transactions↔quotes, payments↔invoices).
    Nearest below and nearest above come from the SAME tagged-union
    one-window-per-direction shape as j8/j18 (one user_id shuffle,
    two ordered passes, no range probe, no candidate join), then one
    row-local pick: closer side wins, exact ties take the lower value.
    The DuckDB oracle uses native ASOF twice (>= and <=) — equality
    with it proves the union-window formulation IS the nearest-match
    semantics in both directions."""
    # NULL-valued rows are excluded on BOTH sides and engines: a NULL
    # has no position on the value axis (the descending window would
    # otherwise sort a NULL purchase last and hand it the user's
    # minimum click — the round-11 review finding)
    e = load_table(spark, sf_dir, "events")
    p = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("event_id", "user_id", "value")
    c = (
        e.filter((F.col("event_type") == "click") & F.col("value").isNotNull())
        .select("user_id", F.col("value").alias("c_value"))
        .distinct()
    )
    tagged = p.select(
        "user_id",
        F.col("value").alias("v"),
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("double").alias("cv"),
    ).unionByName(
        c.select(
            "user_id",
            F.col("c_value").alias("v"),
            F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("c_value").alias("cv"),
        )
    )
    from pyspark.sql import Window

    wb = (
        Window.partitionBy("user_id")
        .orderBy("v", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = (
        Window.partitionBy("user_id")
        .orderBy(F.col("v").desc(), "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    both = (
        tagged.withColumn("below_value", F.last("cv", ignorenulls=True).over(wb))
        .withColumn("above_value", F.last("cv", ignorenulls=True).over(wa))
        .filter(F.col("tag") == 1)
    )
    x = F.col("v")
    matched = (
        F.when(F.col("below_value").isNull(), F.col("above_value"))
        .when(F.col("above_value").isNull(), F.col("below_value"))
        .when(
            (x - F.col("below_value")) <= (F.col("above_value") - x),
            F.col("below_value"),
        )
        .otherwise(F.col("above_value"))
    )
    return both.select(
        "event_id",
        "user_id",
        x.alias("p_value"),
        "below_value",
        "above_value",
        matched.alias("matched_value"),
    )
