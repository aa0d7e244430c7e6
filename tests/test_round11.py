"""Round-11 additions: KMV merge property, bounded-hop cheapest-path
brute-force parity, Holt-Winters pinned recursion, k-fold encoding
brute force, markdown extraction vs a Python reference."""

from __future__ import annotations

import re
from decimal import Decimal

from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def test_kmv_sketches_merge_exactly(spark):
    """The KMV invariant that makes the sketch distributed: the K
    smallest distinct hashes of a UNION equal the K smallest of the
    parts' per-part K-minima — so partial sketches built per
    partition/nation merge into the global sketch losslessly."""
    from chronicle_sniffer_spark.operators.sketches import KMV_K, _LEHMER_A, _LEHMER_M

    o = load_table(spark, SF_SMOKE, "orders").join(
        load_table(spark, SF_SMOKE, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    d = o.select(
        "c_nationkey", ((F.col("o_custkey") * _LEHMER_A) % _LEHMER_M).alias("h")
    ).distinct()
    # per-part sketches: K minima within each nation
    from pyspark.sql import Window

    part_mins = (
        d.withColumn(
            "rn", F.row_number().over(Window.partitionBy("c_nationkey").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .select("h")
        .distinct()
    )
    merged = sorted(r.h for r in part_mins.collect())[:KMV_K]
    direct = sorted(r.h for r in d.select("h").distinct().collect())[:KMV_K]
    assert merged == direct


def test_g12_matches_bruteforce_bellman_ford(spark):
    from chronicle_sniffer_spark.plans.round11 import (
        G12_ROUNDS,
        G12_SRC_CUST,
        g12_bounded_cheapest_path,
    )

    got = {
        r.node: r.dist_cents
        for r in g12_bounded_cheapest_path(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    rows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (2 * F.col("o_custkey")).alias("u"),
            (2 * F.col("l_suppkey") + 1).alias("v"),
        )
        .agg(F.min(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("w"))
        .collect()
    )
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        adj.setdefault(r.u, []).append((r.v, r.w))
        adj.setdefault(r.v, []).append((r.u, r.w))
    dist = {2 * G12_SRC_CUST: 0}
    for _ in range(G12_ROUNDS):
        new = dict(dist)
        for u, du in dist.items():
            for v, w in adj.get(u, []):
                if du + w < new.get(v, float("inf")):
                    new[v] = du + w
        dist = new
    assert got == dist and len(got) > 1


def test_holt_winters_pinned_series(spark, tmp_path):
    """Hand-replayed 10-point series: the operator's recursion must
    equal the reference loop bit-for-bit (dyadic constants)."""
    from chronicle_sniffer_spark.plans.round11 import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_H,
        HW_M,
    )
    from chronicle_sniffer_spark.plans.round11 import ts22_holt_winters  # noqa: F401

    xs = [10.0, 12.0, 9.0, 14.0, 11.0, 13.0, 8.0, 15.0, 10.5, 12.5]
    import datetime

    rows = [
        (7, datetime.datetime(2025, 1, 1) + datetime.timedelta(hours=i), i, x)
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, value double"
    )
    import os

    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "events.parquet"))
    got = {
        r.h: r.forecast
        for r in ts22_holt_winters(spark, d).filter(F.col("user_id") == 7).collect()
    }
    l, b = xs[0], 0.0
    seas = [0.0] * HW_M
    for x in xs[1:]:
        s_old = seas[0]
        l_new = HW_ALPHA * (x - s_old) + (1 - HW_ALPHA) * (l + b)
        b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
        seas = seas[1:] + [HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * s_old]
        l = l_new
    import math

    def r6(x):  # half-away-from-zero, the engines' round()
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    want = {h: r6(l + h * b + seas[h - 1]) for h in range(1, HW_H + 1)}
    assert got == want


def test_kfold_encode_bruteforce(spark):
    from chronicle_sniffer_spark.operators.sketches import _LEHMER_A, _LEHMER_M
    from chronicle_sniffer_spark.plans.round11 import KFOLD_K, ml22_kfold_target_encode

    got = {
        r.o_orderkey: (r.fold, r.enc)
        for r in ml22_kfold_target_encode(spark, SF_SMOKE).collect()
    }
    rows = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()
    sums: dict[tuple[str, int], Decimal] = {}
    cnts: dict[tuple[str, int], int] = {}
    for r in rows:
        f = (r.o_orderkey * _LEHMER_A) % _LEHMER_M % KFOLD_K
        k = (r.o_orderpriority, f)
        cents = int(round(r.o_totalprice * 100))
        sums[k] = sums.get(k, Decimal(0)) + cents
        cnts[k] = cnts.get(k, 0) + 1
    for r in rows:
        f = (r.o_orderkey * _LEHMER_A) % _LEHMER_M % KFOLD_K
        cat = r.o_orderpriority
        s_c = sum(v for (c, _), v in sums.items() if c == cat)
        n_c = sum(v for (c, _), v in cnts.items() if c == cat)
        s_f = sums.get((cat, f), Decimal(0))
        n_f = cnts.get((cat, f), 0)
        gf, ge = got[r.o_orderkey]
        assert gf == f
        if n_c > n_f:
            num, den = int(s_c - s_f) * 10000, n_c - n_f
            want = ((2 * num + den) // (2 * den)) / 1e6
            assert ge == want, r.o_orderkey
        else:
            assert ge is None


def _md_ref(md: str):
    title_m = re.search(r"(^|\n)#+ *([^\n]*)", md)
    title = (title_m.group(2) if title_m else "").strip()
    n_code = md.count("```") // 2
    n_head = ("\n" + md).count("\n#")
    n_links = md.count("](")
    s = re.sub(r"```[^`]*```", " ", md)
    s = re.sub(r"\[([^\]]*)\]\(([^)]*)\)", r"\1", s)
    for tok in ("`", "*", "_", "#"):
        s = s.replace(tok, "")
    for p in ("\n> ", "\n- "):
        s = s.replace(p, "\n")
    s = re.sub(r"[ \t\n\r\f]+", " ", s).strip()
    return title, n_code, n_head, n_links, s


def test_markdown_extract_reference(spark):
    from chronicle_sniffer_spark.operators.markdown import (
        md_counts,
        md_text,
        md_title,
    )

    pages = [
        (
            1,
            "# Title one\nprose with **bold** here\n"
            "```\ncode must vanish entirely\n```\n"
            "see [anchor text](http://x/y) and `inline` bits\n"
            "- bullet a\n- bullet b\n> a quote\nfinal paragraph",
        ),
        (2, "no markdown at all, plain prose"),
        (3, "## only a section\n[l1](u1) [l2](u2)\n```\nc\n```\n```\nd\n```"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, md string")
    md = F.col("md")
    c = md_counts(md)
    out = {
        r.doc_id: (r.title, r.nc, r.nh, r.nl, r.text)
        for r in df.select(
            "doc_id",
            md_title(md).alias("title"),
            c["n_code_blocks"].alias("nc"),
            c["n_headings"].alias("nh"),
            c["n_links"].alias("nl"),
            md_text(md).alias("text"),
        ).collect()
    }
    for doc_id, src in pages:
        assert out[doc_id] == _md_ref(src), doc_id
    # semantic pins independent of the reference impl
    assert "vanish" not in out[1][4] and "anchor text" in out[1][4]
    assert out[1][1] == 1 and out[1][3] == 1
    assert out[2] == ("", 0, 0, 0, "no markdown at all, plain prose")
    assert out[3][1] == 2 and out[3][3] == 2


def test_a24_caps_sketch_before_the_shuffle(spark):
    """The round-12 production path: the KMV sketch branch's
    per-batch K-minima cap (MapInPandas) must sit BELOW every shuffle
    exchange in the plan — what crosses the wire is sketch-sized, not
    the raw key stream.  Also re-checks the capped path's result
    equals the uncapped reference."""
    from chronicle_sniffer_spark.operators.sketches import KMV_K, _LEHMER_A, _LEHMER_M
    from chronicle_sniffer_spark.plans.round11 import a24_kmv_distinct

    df = a24_kmv_distinct(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    first_exchange = plan.index("Exchange")
    assert plan.index("MapInPandas") > first_exchange or (
        "Exchange" not in plan[: plan.index("MapInPandas")]
    ), plan
    # parents print above children: every Exchange on the MapInPandas
    # branch must appear BEFORE (above) the MapInPandas line
    tail = plan[plan.index("MapInPandas"):]
    assert "Exchange hashpartitioning" not in tail, tail
    # value check vs the uncapped formulation
    d = (
        load_table(spark, SF_SMOKE, "orders")
        .select(
            "o_orderpriority",
            ((F.col("o_custkey") * _LEHMER_A) % _LEHMER_M).alias("h"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    ref_kth = {
        r.o_orderpriority: r.h
        for r in d.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("o_orderpriority").orderBy("h")
            ),
        )
        .filter(F.col("rn") == KMV_K)
        .collect()
    }
    got = {r.o_orderpriority: r.kth_min for r in df.collect()}
    for k, v in got.items():
        assert v == ref_kth.get(k), (k, v, ref_kth.get(k))
