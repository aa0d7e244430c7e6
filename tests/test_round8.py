"""Property tests for the round-8 operators (oracle parity itself runs
via the auto-parametrized tests/test_catalog.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_g4_hierarchy_partitions_all_customers(spark):
    """The recursive walk is a tree over contiguous keys: every
    customer lands in exactly one root's subtree, member counts sum to
    the customer count, and max depth equals digits(max key) - 1."""
    from chronicle_sniffer_spark.plans.round8 import g4_hierarchy_rollup_rcte

    rows = g4_hierarchy_rollup_rcte(spark, SF_SMOKE).collect()
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    n_cust = cust.count()
    max_key = cust.agg(F.max("c_custkey")).first()[0]
    assert sorted(r.root_custkey for r in rows) == list(range(0, 10))
    assert sum(r.n_members for r in rows) == n_cust
    assert max(r.max_depth for r in rows) == len(str(max_key)) - 1


def test_u7_sql_udf_is_inlined_no_python(spark):
    """The native SQL UDF body must inline into the Catalyst plan —
    no Python evaluation node anywhere (that is the entire point of
    CREATE FUNCTION ... RETURN over a @udf)."""
    from chronicle_sniffer_spark.plans.round8 import u7_sql_scalar_udf

    plan = u7_sql_scalar_udf(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "HashAggregate" in plan


def test_o11_pareto_matches_bruteforce(spark):
    """The two-window skyline equals the O(n²) definition, computed
    in python over the collected parts table."""
    from chronicle_sniffer_spark.plans.round8 import o11_pareto_frontier

    parts = [
        (r.p_brand, r.p_partkey, r.p_size, r.p_retailprice)
        for r in spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_brand", "p_partkey", "p_size", "p_retailprice")
        .collect()
    ]
    expect = set()
    for b, k, s, p in parts:
        dominated = any(
            qb == b and qs >= s and qp <= p and (qs > s or qp < p)
            for qb, _, qs, qp in parts
        )
        if not dominated:
            expect.add((b, k))
    got = {
        (r.p_brand, r.p_partkey) for r in o11_pareto_frontier(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_ts8_ewma_matches_python_recursion(spark):
    """EWMA recursion recomputed row-by-row in python for every user
    — identical multiply-add order, so equality is exact."""
    from chronicle_sniffer_spark.plans.round8 import EWMA_ALPHA, ts8_ewma_smoothing

    events = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in events:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    expect = {}
    for uid, rows in series.items():
        rows.sort()
        y = rows[0][2]
        for _, _, x in rows[1:]:
            y = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * y
        expect[uid] = (len(rows), round(y, 6))
    got = {
        r.user_id: (r.n_events, r.ewma_last)
        for r in ts8_ewma_smoothing(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_l4_bigram_lm_matches_python(spark):
    """Add-one-smoothed bigram log-likelihood recomputed in python
    for the whole corpus."""
    from chronicle_sniffer_spark.plans.round8 import l4_bigram_lm_score

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    tok = {d.doc_id: [w for w in d.text.lower().split(" ") if w] for d in docs}
    c_uni: dict[str, int] = {}
    c_bg: dict[tuple, int] = {}
    for ws in tok.values():
        for w in ws:
            c_uni[w] = c_uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            c_bg[(a, b)] = c_bg.get((a, b), 0) + 1
    v = len(c_uni)
    expect = {}
    for doc_id, ws in tok.items():
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            continue
        lp = [math.log((c_bg[(a, b)] + 1.0) / (c_uni[a] + v)) for a, b in pairs]
        expect[doc_id] = (len(pairs), round(sum(lp) / len(lp), 6))
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in l4_bigram_lm_score(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_l2_containment_scores_exact_and_candidates_lossless(spark):
    """Every reported containment equals the python-set value, and
    every pair that (a) scores >= threshold and (b) shares at least
    one under-cap gram is reported — the prefix filter must be
    lossless above threshold."""
    from chronicle_sniffer_spark.operators.dedup import containment_pairs
    from chronicle_sniffer_spark.operators.dedup import NGRAM_MAX_DF_PCT, NGRAM_N

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    gsets = {}
    for d in docs:
        ws = d.text.split(" ")
        grams = {
            " ".join(ws[i : i + NGRAM_N])
            for i in range(max(len(ws) - NGRAM_N + 1, 1))
        }
        gsets[d.doc_id] = grams
    df: dict[str, int] = {}
    for grams in gsets.values():
        for g in grams:
            df[g] = df.get(g, 0) + 1
    cap = (len(docs) * NGRAM_MAX_DF_PCT + 99) // 100
    ids = sorted(gsets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = gsets[a] & gsets[b]
            if not inter:
                continue
            c = round(len(inter) / min(len(gsets[a]), len(gsets[b])), 6)
            if c >= 0.8 and any(df[g] <= cap for g in inter):
                expect[(a, b)] = c
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
            n=NGRAM_N,
            threshold=0.8,
            max_df_pct=NGRAM_MAX_DF_PCT,
        ).collect()
    }
    assert got == expect


def test_l2_containment_catches_embedded_doc_jaccard_misses(spark):
    """The motivating asymmetry: a short doc embedded verbatim in a
    10x longer one has containment 1.0 but Jaccard << 0.5 — the
    containment operator reports it, the Jaccard operator cannot."""
    from chronicle_sniffer_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"tok{i}" for i in range(200)]
    short = " ".join(words[:20])
    long = " ".join(words)  # short is a prefix slice of long
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "completely different text entirely here")],
        "doc_id long, text string",
    )
    cont = containment_pairs(docs, n=3, threshold=0.8, max_df_pct=100).collect()
    jacc = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df_pct=100).collect()
    assert [(r.doc_a, r.doc_b, r.containment) for r in cont] == [(1, 2, 1.0)]
    assert jacc == []


def test_ts9_holt_matches_python_recursion(spark):
    """Two-state Holt recursion recomputed in python for every user."""
    from chronicle_sniffer_spark.plans.round8 import (
        HOLT_ALPHA,
        HOLT_BETA,
        ts9_holt_linear,
    )

    events = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in events:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    expect = {}
    for uid, rows in series.items():
        rows.sort()
        l, b = rows[0][2], 0.0
        for _, _, x in rows[1:]:
            l_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
            l = l_new
        expect[uid] = (len(rows), round(l, 6), round(b, 6), round(l + b, 6))
    got = {
        r.user_id: (r.n_events, r.level_last, r.trend_last, r.forecast_1)
        for r in ts9_holt_linear(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_l6_nucleus_is_minimal_crossing_prefix(spark):
    """Per source: the kept set is a prefix of the (quality desc,
    doc_id) order; it crosses the 60% token budget; removing its last
    row falls below the budget (minimality)."""
    from chronicle_sniffer_spark.plans.round8 import NUCLEUS_PCT, l6_nucleus_select

    rows = l6_nucleus_select(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    by_src: dict[str, list] = {}
    for d in docs:
        toks = d.text.split(" ")
        q = round(len(d.text.replace(" ", "")) / len(toks), 6)
        by_src.setdefault(d.source, []).append((-q, d.doc_id, len(toks)))
    kept: dict[str, set] = {}
    for r in rows:
        kept.setdefault(r.source, set()).add(r.doc_id)
    assert set(kept) == set(by_src)
    for src, entries in by_src.items():
        entries.sort()
        total = sum(n for _, _, n in entries)
        k = kept[src]
        ids_in_order = [doc_id for _, doc_id, _ in entries]
        prefix_len = len(k)
        assert set(ids_in_order[:prefix_len]) == k, f"{src}: not a prefix"
        cum = sum(n for _, _, n in entries[:prefix_len])
        cum_minus_last = cum - entries[prefix_len - 1][2]
        assert cum_minus_last * 100 < total * NUCLEUS_PCT
        if prefix_len < len(entries):
            assert cum * 100 >= total * NUCLEUS_PCT


def test_dq5_quarantine_partitions_and_reasons_consistent(spark):
    """Quarantine + clean partitions the joined relation; every
    quarantined row's reason count matches its reason string."""
    from chronicle_sniffer_spark.plans.round8 import dq5_quarantine_split

    rows = dq5_quarantine_split(spark, SF_SMOKE).collect()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert 0 < len(rows) < orders
    for r in rows:
        assert r.n_violations >= 1
        assert len(r.reasons.split(",")) == r.n_violations
        assert r.reasons  # never empty on the quarantine route


def test_new_entry_plans_have_right_distributed_shape(spark):
    """Plan-shape guards for the round-8 entries: every Window is
    PARTITIONED (no single-task global window anywhere); the nucleus
    plan is a pure window formulation (no join); the skyline's only
    window is a ROWS frame over the distinct-size relation (the
    RANGE-frame formulation was O(rows²) per partition — 17× wall for
    10× data in the sf1 soak — and must not come back)."""
    from chronicle_sniffer_spark.plans.round8 import (
        l6_nucleus_select,
        o11_pareto_frontier,
    )

    for fn in (o11_pareto_frontier, l6_nucleus_select):
        df = fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a global window would show a SinglePartition exchange
        assert "SinglePartition" not in plan, f"{fn.__name__}: global window\n{plan}"
        assert "CartesianProduct" not in plan, f"{fn.__name__}\n{plan}"

    nucleus_plan = (
        l6_nucleus_select(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in nucleus_plan, nucleus_plan
    skyline_plan = (
        o11_pareto_frontier(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    )
    assert "specifiedwindowframe(RangeFrame" not in skyline_plan, skyline_plan


def test_dq5_dimension_rule_joins_broadcast(spark):
    """The one cross-table rule must ride a broadcast of the
    dimension at gate scale (AQE or static sizing — either way no
    full shuffle join for a small dim)."""
    from chronicle_sniffer_spark.plans.round8 import dq5_quarantine_split

    df = dq5_quarantine_split(spark, SF_SMOKE)
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_g5_bfs_matches_python_bfs(spark):
    """Bounded-hop distances recomputed with a python BFS over the
    collected edge set."""
    from collections import deque

    from chronicle_sniffer_spark.operators.graph import _copurchase_edges
    from chronicle_sniffer_spark.plans.round8 import BFS_HOPS, g5_bfs_hops

    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF_SMOKE).collect()]
    adj: dict[int, set] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(u for u, _ in edges)
    dist = {src: 0}
    dq = deque([src])
    while dq:
        n = dq.popleft()
        if dist[n] >= BFS_HOPS:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                dq.append(m)
    got = {r.user_id: r.dist for r in g5_bfs_hops(spark, SF_SMOKE).collect()}
    assert got == dist


def test_u9_iterator_udf_is_arrow_and_matches_python(spark):
    """The iterator pandas UDF must run on the Arrow path
    (ArrowEvalPython node), and its scores match a python recompute."""
    from chronicle_sniffer_spark.plans.round8 import u9_iter_pandas_udf

    df = u9_iter_pandas_udf(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    expect = {
        d.doc_id: round(
            0.4 * (len(d.text) % 101) + 0.6 * (len(d.text.split(" ")) % 53), 6
        )
        for d in docs
    }
    got = {r.doc_id: r.score for r in df.collect()}
    assert got == expect


def test_ts10_pattern_matches_python_scan(spark):
    """Strict v->c->p run counts recomputed by a python scan of each
    user's (ts, event_id)-ordered history."""
    from chronicle_sniffer_spark.plans.round8 import ts10_sequence_pattern

    events = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    series: dict[int, list] = {}
    chr_map = {"view": "v", "click": "c", "purchase": "p", "signup": "s"}
    for r in events:
        series.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, chr_map.get(r.event_type, "e"))
        )
    expect = {}
    for uid, rows in series.items():
        rows.sort()
        s = "".join(c for _, _, c in rows)
        expect[uid] = (len(rows), s.count("vcp"))
    got = {
        r.user_id: (r.n_events, r.n_strict_funnels)
        for r in ts10_sequence_pattern(spark, SF_SMOKE).collect()
    }
    assert got == expect
    assert any(n > 0 for _, n in got.values())  # the pattern actually fires


def test_l6_curation_funnel_is_monotone_and_anchored(spark):
    """Stage counts never increase, stage 0 equals the raw corpus,
    and every stage is present."""
    from chronicle_sniffer_spark.plans.round8 import l6_curation_funnel

    rows = {r.stage: (r.n_docs, r.n_tokens) for r in l6_curation_funnel(spark, SF_SMOKE).collect()}
    assert sorted(rows) == ["0_raw", "1_exact_dedup", "2_near_dedup", "3_quality_gate"]
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    n_tok = docs.selectExpr("sum(size(split(text, ' ')))").first()[0]
    assert rows["0_raw"] == (n, n_tok)
    seq = [rows[s] for s in ("0_raw", "1_exact_dedup", "2_near_dedup", "3_quality_gate")]
    for (d1, t1), (d2, t2) in zip(seq, seq[1:]):
        assert d2 <= d1 and t2 <= t1
    assert seq[-1][0] > 0  # the gate keeps something


def test_j13_lateral_equals_window_rewrite(spark):
    """The LATERAL correlated top-k must equal the window-rank
    rewrite users are usually told to use instead."""
    from pyspark.sql import Window
    from chronicle_sniffer_spark.plans import registry

    j13_lateral_topk = registry()["j13_lateral_topk"].spark_fn
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").filter(
        F.col("c_custkey") < 30
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    rewrite = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )
    key = lambda r: (r.c_custkey, r.o_orderkey, r.o_totalprice)
    assert sorted(map(key, j13_lateral_topk(spark, SF_SMOKE).collect())) == sorted(
        map(key, rewrite.collect())
    )


def test_p15_variant_equals_string_json_path(spark):
    """The VARIANT path must agree with the legacy string-JSON path
    (get_json_object) on every row."""
    from chronicle_sniffer_spark.plans.round8 import p15_variant_shred

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    legacy = (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )
    key = lambda r: tuple(r)
    assert sorted(map(key, p15_variant_shred(spark, SF_SMOKE).collect())) == sorted(
        map(key, legacy.collect())
    )


def test_dq6_checksum_detects_single_row_mutation(spark, tmp_path):
    """The additive checksum must shift when exactly one row's content
    changes (same row count — the failure mode bare counts miss)."""
    from chronicle_sniffer_spark.plans.round8 import dq6_reconciliation_checksum

    base = dq6_reconciliation_checksum(spark, SF_SMOKE).collect()
    # mutate one order's priority and recompute via a staged copy
    mut_dir = str(tmp_path)
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    first = orders.select("o_orderkey").first()[0]
    orders.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == first, F.lit("9-MUTATED")).otherwise(
            F.col("o_orderpriority")
        ),
    ).write.parquet(f"{mut_dir}/orders.parquet")
    mut = dq6_reconciliation_checksum(spark, mut_dir).collect()
    b = {r.yr: (r.n_rows, r.content_checksum) for r in base}
    m = {r.yr: (r.n_rows, r.content_checksum) for r in mut}
    assert set(b) == set(m)
    diff = [y for y in b if b[y] != m[y]]
    assert len(diff) == 1  # exactly the mutated row's partition shifts
    y = diff[0]
    assert b[y][0] == m[y][0]  # same row count — only the checksum moves


def test_s8c_dynamic_overwrite_touches_only_target_partition(spark):
    """The dynamic overwrite must leave every non-1995 partition's
    files untouched (mtime/identity preserved) while 1995 shrinks."""
    from chronicle_sniffer_spark.plans.round8 import (
        s8c_dynamic_partition_overwrite,
    )

    df = s8c_dynamic_partition_overwrite(spark, SF_SMOKE)
    rows = {r.yr: r.n_orders for r in df.collect()}
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    by_year = {
        r.yr: r.n
        for r in orders.selectExpr("CAST(year(o_orderdate) AS INT) AS yr")
        .groupBy("yr")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    urgent_1995 = orders.filter(
        (F.expr("year(o_orderdate)") == 1995) & (F.col("o_orderpriority") == "1-URGENT")
    ).count()
    for yr, n in by_year.items():
        if yr == 1995:
            assert rows[yr] == n - urgent_1995
        else:
            assert rows[yr] == n
    # every partition directory still holds files (static mode would have
    # dropped all but 1995)
    dirs = {p.split("yr=")[1].split("/")[0] for p in df.inputFiles()}
    assert dirs == {str(y) for y in by_year}


def test_a4c_weighted_median_matches_python(spark):
    """Weighted lower median recomputed in python per group."""
    from chronicle_sniffer_spark.plans.round8 import a4c_weighted_median

    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, int(r.l_quantity))
        )
    expect = {}
    for g, vals in groups.items():
        vals.sort()
        total = sum(w for _, w in vals)
        cum = 0
        for x, w in vals:
            cum += w
            if cum * 2 >= total:
                expect[g] = x
                break
    got = {
        r.l_returnflag: r.weighted_median
        for r in a4c_weighted_median(spark, SF_SMOKE).collect()
    }
    assert got == expect
