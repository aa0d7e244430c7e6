"""Property tests for the round-7 operators (oracle parity itself runs
via the auto-parametrized tests/test_catalog.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_cms_estimates_never_undercount(spark):
    """CMS is a one-sided estimator: est >= true count for every
    probed word, and the sketch itself is bounded at depth x width
    cells no matter the corpus."""
    from chronicle_sniffer_spark.plans.round7 import (
        CMS_DEPTH,
        CMS_WIDTH,
        a14_cms_heavy_hitters,
    )

    rows = a14_cms_heavy_hitters(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.est_cnt >= r.true_cnt
        assert r.overcount == r.est_cnt - r.true_cnt
    assert CMS_DEPTH * CMS_WIDTH == 1024  # documented sketch budget


def test_cms_top1_matches_exact_top_word(spark):
    """With a 1024-cell sketch over a tiny vocabulary, collisions are
    rare enough that the top estimated word equals the exact top word."""
    from chronicle_sniffer_spark.plans.round7 import a14_cms_heavy_hitters

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .first()
    )
    got = a14_cms_heavy_hitters(spark, SF_SMOKE).first()
    assert got.word == exact["w"]
    assert got.true_cnt == exact["count"]


def test_cms_sketch_stream_equals_batch(spark, tmp_path):
    """The CMS is THE streaming-mergeable frequency sketch: cells
    built over an AvailableNow micro-batched stream of the corpus
    (update mode through a grouped agg) must equal the batch cells —
    cell-wise sums are associative, so micro-batch order can't
    matter."""
    import os

    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import CMS_DEPTH, _bucket_sql

    def cells(df):
        words = df.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        ).filter(F.col("w") != "")
        salt = F.explode(
            F.array(*[F.lit(i) for i in range(1, CMS_DEPTH + 1)])
        ).alias("i")
        salted = (
            words.select("w", salt)
            .withColumn(
                "h",
                F.md5(
                    F.concat(F.col("i").cast("string"), F.lit(":"), "w").cast("binary")
                ),
            )
            .select("i", F.expr(_bucket_sql("h")).alias("bucket"))
        )
        return salted.groupBy("i", "bucket").agg(F.count("*").alias("cell"))

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    batch = {(r.i, r.bucket): r.cell for r in cells(docs).collect()}

    stage = str(tmp_path)
    os.symlink(
        f"{SF_SMOKE}/documents.parquet", os.path.join(stage, "documents.parquet")
    )
    stream = spark.readStream.schema(docs.schema).parquet(stage)
    q = (
        cells(stream)
        .writeStream.format("memory")
        .queryName("cms_stream_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.i, r.bucket): r.cell
        for r in spark.sql("SELECT * FROM cms_stream_cells").collect()
    }
    assert got == batch


def test_pit_training_set_never_leaks_future_features(spark):
    """The feature-store property: every assembled feature value was
    observable at-or-before the label timestamp — recomputed row by
    row from the raw events with pandas."""
    from chronicle_sniffer_spark.plans.round7 import ml6_pit_training_set

    out = ml6_pit_training_set(spark, SF_SMOKE).toPandas()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    purchases = ev[ev.event_type == "purchase"]
    assert len(out) == len(purchases)
    assert out.event_id.is_unique

    by_user = {u: g for u, g in ev.groupby("user_id")}
    sample = out.sample(n=min(80, len(out)), random_state=11)
    for _, r in sample.iterrows():
        g = by_user[r.user_id]
        for col, etype in (("f_click", "click"), ("f_view", "view")):
            feats = g[(g.event_type == etype) & (g.ts <= r.p_ts)]
            if feats.empty:
                assert r[col] != r[col] or r[col] is None  # NaN/None
            else:
                latest_ts = feats.ts.max()
                want = feats[feats.ts == latest_ts].value.max()
                assert abs(r[col] - want) < 1e-12
        n_prior = len(
            g[(g.event_type == "purchase") & (g.ts < r.p_ts)]
        )
        assert r.n_prior == n_prior


def test_ann_recall_eval_bounds_and_query_set(spark):
    """recall@k ∈ [0,1], hits consistent, and the query set is exactly
    the deterministic modulo sample."""
    from chronicle_sniffer_spark.plans.round7 import (
        RECALL_K,
        RECALL_NQ,
        RECALL_QMOD,
        l3_ann_recall_eval,
    )

    rows = l3_ann_recall_eval(spark, SF_SMOKE).collect()
    n_vec = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert len(rows) == min((n_vec + RECALL_QMOD - 1) // RECALL_QMOD, RECALL_NQ)
    for r in rows:
        assert r.query_vec_id % RECALL_QMOD == 0
        assert 0 <= r.n_hits <= RECALL_K
        assert abs(r.recall - r.n_hits / RECALL_K) < 1e-9
    # LSH with 8 tables x 4 bits on this corpus should find most of
    # the true neighbors — a floor guards against silent bucket bugs
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.5


def test_triangle_count_matches_python_enumeration(spark):
    """Degree-oriented count equals a driver-side brute enumeration of
    the same co-occurrence graph, and the plan has no CartesianProduct."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import g2_triangle_count

    from chronicle_sniffer_spark.operators.graph import G2_HOUR_CAP

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .collect()
    )
    by_h: dict = {}
    for r in pur:
        by_h.setdefault(r.h, set()).add(r.user_id)
    edges = set()
    for users in by_h.values():
        for u, v in combinations(sorted(users)[:G2_HOUR_CAP], 2):
            edges.add((u, v))
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = sum(
        1
        for (u, v) in edges
        for w in adj[u] & adj[v]
        if w > v  # u < v < w counts each triangle once
    )

    df = g2_triangle_count(spark, SF_SMOKE)
    row = df.collect()[0]
    assert row.n_edges == len(edges)
    assert row.n_triangles == want
    assert "CartesianProduct" not in df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_plan_is_shuffle_free(spark):
    """The bucketed fact-fact join must contain exactly ONE Exchange —
    the tiny post-join groupBy — i.e. the sort-merge join itself runs
    co-located on the bucketed layout with no shuffle of either
    table."""
    from chronicle_sniffer_spark.plans.round7 import s8b_bucketed_colocated_join

    df = s8b_bucketed_colocated_join(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_drift_report_shares_sum_to_one(spark):
    """Per-snapshot language shares each sum to 1, deltas are
    non-negative, and the doc counts add up to the corpus."""
    from chronicle_sniffer_spark.plans.round7 import dq4_drift_report

    rows = {r.metric: r for r in dq4_drift_report(spark, SF_SMOKE).collect()}
    n = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    nd = rows["n_docs"]
    assert nd.val_a + nd.val_b == n
    sa = sum(r.val_a for m, r in rows.items() if m.startswith("share_"))
    sb = sum(r.val_b for m, r in rows.items() if m.startswith("share_"))
    assert abs(sa - 1.0) < 1e-5 and abs(sb - 1.0) < 1e-5
    assert all(r.abs_delta >= 0 for r in rows.values())


def test_bpe_merge_step_matches_python_count(spark):
    """Occurrence-weighted pair counts equal a driver-side Python
    recount on the smoke corpus; winner selection is deterministic."""
    from collections import Counter

    from chronicle_sniffer_spark.plans.round7 import BPE_TOPK, l4_bpe_merge_step

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    counts: Counter = Counter()
    for text in docs.text:
        for w in str(text).lower().split(" "):
            if not w:
                continue
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]

    got = [(r.pair, r.pair_count) for r in l4_bpe_merge_step(spark, SF_SMOKE).collect()]
    assert got == want


def test_bitmap_distinct_matches_plain_count_distinct(spark):
    """The bitmap popcount must equal count(distinct) exactly, and the
    plan must actually use the mergeable bitmap aggregate."""
    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import a15_bitmap_distinct

    got = {
        r.event_type: (r.n_users, r.n_events)
        for r in a15_bitmap_distinct(spark, SF_SMOKE).collect()
    }
    want = {
        r.event_type: (r.n_users, r.n_events)
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == want
    plan = (
        a15_bitmap_distinct(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bitmap_construct_agg" in plan


def test_scd2_intervals_well_formed(spark):
    """Versions are contiguous from 1, exactly one open (current)
    interval per customer, consecutive versions change the tracked
    attribute, and the run sizes account for every source order."""
    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import o9b_scd2_intervals

    pdf = (
        o9b_scd2_intervals(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["custkey", "version"])
    )
    n_src = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter(F.col("o_custkey") % 10 == 0)
        .count()
    )
    assert int(pdf["n_orders"].sum()) == n_src
    for ck, g in pdf.groupby("custkey"):
        assert list(g["version"]) == list(range(1, len(g) + 1))
        assert int(g["is_current"].sum()) == 1
        assert g["valid_to"].isna().sum() == 1 and g.iloc[-1]["is_current"] == 1
        pr = list(g["priority"])
        assert all(pr[i] != pr[i + 1] for i in range(len(pr) - 1))
        closed = g.dropna(subset=["valid_to"])
        assert (closed["valid_from"] <= closed["valid_to"]).all()


def test_phrase_search_matches_python_scan(spark):
    """Posting-list adjacency join equals a per-document Python scan."""
    from chronicle_sniffer_spark.plans.round7 import PHRASE, l4_phrase_search

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    want = {}
    for r in docs:
        ws = r.text.split(" ")
        hits = [
            i
            for i in range(len(ws) - 1)
            if ws[i] == PHRASE[0] and ws[i + 1] == PHRASE[1]
        ]
        if hits:
            want[r.doc_id] = (len(hits), hits[0])
    got = {
        r.doc_id: (r.n_hits, r.first_pos)
        for r in l4_phrase_search(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_incremental_refresh_equals_full_recompute(spark):
    """merge(base partial state, delta partial state) must equal the
    single-pass aggregate over all of history — in Spark itself,
    independent of the DuckDB oracle."""
    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import o10_incremental_agg_refresh
    from chronicle_sniffer_spark.tables import load_table

    merged = {
        r.event_type: (r.n_events, r.sum_cents, r.min_ts_us, r.max_ts_us)
        for r in o10_incremental_agg_refresh(spark, SF_SMOKE).collect()
    }
    full = {
        r.event_type: (r.n_events, r.sum_cents, r.min_ts_us, r.max_ts_us)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("sum_cents"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("min_ts_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("max_ts_us"),
        )
        .collect()
    }
    assert merged == full


def test_mergeable_quantile_edges_bound_exact_order_stats(spark):
    """Each reported bin edge must bracket the exact ceil(q*n)-th order
    statistic within one bin width (the summary's error contract)."""
    import math

    from chronicle_sniffer_spark.plans.round7 import QH_WIDTH, a4b_mergeable_quantiles

    vals = {}
    for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_type", "value"
    ).collect():
        vals.setdefault(r.event_type, []).append(r.value)
    got = a4b_mergeable_quantiles(spark, SF_SMOKE).collect()
    assert len(got) == len(vals)
    for row in got:
        xs = sorted(vals[row.event_type])
        assert row.n_events == len(xs)
        for pct in (50, 90, 99):
            edge = row[f"p{pct}_edge"]
            k = (len(xs) * pct + 99) // 100
            exact = xs[k - 1]
            assert exact <= edge
            if exact < 1024 - QH_WIDTH:
                assert edge - QH_WIDTH <= exact


def test_cc_components_match_union_find(spark):
    """Star-switch CC must agree with a driver-side union-find on the
    same co-occurrence edge set."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.plans.round7 import g3_cc_components

    from chronicle_sniffer_spark.operators.graph import G2_HOUR_CAP

    pur = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
        .collect()
    )
    by_h: dict = {}
    for r in pur:
        by_h.setdefault(r.h, set()).add(r.user_id)
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for users in by_h.values():
        for u, v in combinations(sorted(users)[:G2_HOUR_CAP], 2):
            for n in (u, v):
                if n not in parent:
                    parent[n] = n
                    nodes.add(n)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    sizes: dict = {}
    for n in nodes:
        sizes[find(n)] = sizes.get(find(n), 0) + 1

    row = g3_cc_components(spark, SF_SMOKE).collect()[0]
    assert row.n_nodes == len(nodes)
    assert row.n_components == len(sizes)
    assert row.largest_component == max(sizes.values())
