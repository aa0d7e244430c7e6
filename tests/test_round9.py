"""Round-9 additions: behavioral proofs the oracle hash can't give —
prune losslessness + that the prune actually FIRES, peel fixpoints vs
a python brute force, integer-scaling identities, set-algebra
identities, and the single-task gzip-scan spread."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_mips_norm_prune_is_lossless_and_fires(spark):
    """The Cauchy–Schwarz prune must (a) equal the numpy brute force
    exactly and (b) actually discard candidates."""
    import numpy as np

    from chronicle_sniffer_spark.plans import registry

    got = [
        (r.vec_id, r.ip, r.rank)
        for r in registry()["l3_mips_norm_prune"].spark_fn(spark, SF).collect()
    ]
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    # the entry scores the magnitude-weighted space: x * (1 + id % 13)
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        * (1.0 if r.vec_id == 0 else float(1 + r.vec_id % 13))
        for r in rows
    }
    q = vecs[0]
    scored = sorted(
        ((round(float(v @ q), 6), vid) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )
    want = [(vid, ip, rk + 1) for rk, (ip, vid) in enumerate(scored[:10])]
    assert got == want
    # the prune fires: count survivors of ||q||*||x|| >= 10th-best seed IP
    qn = float(np.sqrt(q @ q))
    by_norm = sorted(
        ((float(np.sqrt(v @ v)), vid) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[0], t[1]),
    )
    seed_ips = sorted(
        (round(float(vecs[vid] @ q), 6) for _n, vid in by_norm[:256]), reverse=True
    )
    L = seed_ips[9]
    survivors = sum(1 for n, _vid in by_norm if n * qn >= L - abs(L) * 1e-9 - 1e-9)
    assert survivors < len(by_norm), "prune admitted the whole corpus"


def test_g7_kcore_matches_python_peel(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.operators.graph import _copurchase_edges

    edges = {(r.u, r.v) for r in _copurchase_edges(spark, SF).collect()}
    while True:
        deg: dict[int, int] = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= 2}
        nxt = {(u, v) for u, v in edges if u in keep and v in keep}
        if nxt == edges:
            break
        edges = nxt
    want = {}
    for u, v in edges:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1
    want = {n: d for n, d in want.items() if d >= 2}
    got = {
        r.user_id: r.deg
        for r in registry()["g7_kcore_peel"].spark_fn(spark, SF).collect()
    }
    assert got == want


def test_ts14_integer_scaling_matches_rational_cusum(spark):
    """n·Σxᵢ − t·T must locate the same argmax day as the textbook
    Σ(xᵢ − T/n) computed in exact rationals."""
    from fractions import Fraction

    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    daily = (
        load_table(spark, SF, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .count()
        .collect()
    )
    series: dict[str, list[tuple]] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, r["count"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        n = len(pts)
        t_sum = sum(x for _d, x in pts)
        mean = Fraction(t_sum, n)
        s = Fraction(0)
        best = None
        for d, x in pts:
            s += x - mean
            # strict > keeps the EARLIEST day among equal maxima, the
            # entry's (abs desc, d asc) tie-break
            if best is None or abs(s) > best[0]:
                best = (abs(s), d, s)
        want[et] = (best[1], int(best[2] * n))
    got = {
        r.event_type: (r.change_day, r.cusum_scaled)
        for r in registry()["ts14_cusum_changepoint"].spark_fn(spark, SF).collect()
    }
    assert got == want


def test_a23_set_algebra_identities(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    e = load_table(spark, SF, "events")
    a = {r.user_id for r in e.filter("event_type = 'click'").select("user_id").distinct().collect()}
    b = {r.user_id for r in e.filter("event_type = 'purchase'").select("user_id").distinct().collect()}
    row = registry()["a23_bitmap_set_algebra"].spark_fn(spark, SF).collect()[0]
    assert (row.n_a, row.n_b) == (len(a), len(b))
    assert row.n_and == len(a & b)
    assert row.n_or == len(a | b)
    assert row.n_a_minus_b == len(a - b)
    # internal identities hold by construction, but pin them anyway
    assert row.n_or == row.n_a + row.n_b - row.n_and
    assert row.n_a_minus_b == row.n_a - row.n_and


def test_ml12_ks_matches_bruteforce(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    d = load_table(spark, SF, "documents")
    s1 = sorted(r.n_chars for r in d.filter("lang = 'en'").collect())
    s2 = sorted(r.n_chars for r in d.filter("lang = 'de'").collect())
    n1, n2 = len(s1), len(s2)
    grid = sorted(set(s1) | set(s2))
    import bisect

    ks_num = max(
        abs(bisect.bisect_right(s1, v) * n2 - bisect.bisect_right(s2, v) * n1)
        for v in grid
    )
    row = registry()["ml12_ks_two_sample"].spark_fn(spark, SF).collect()[0]
    assert (row.n1, row.n2, row.ks_num) == (n1, n2, ks_num)
    assert math.isclose(row.ks, ks_num / (n1 * n2), rel_tol=0, abs_tol=0)


def test_l7_template_groups_share_normalized_header(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.plans.round9 import _L7_HEAD
    from chronicle_sniffer_spark.tables import load_table

    # use sf0.01 — sf0.001 has too few docs for header collisions
    sf = "/root/testdata/sf0.01"
    groups = registry()["l7_template_dedup"].spark_fn(spark, sf).collect()
    assert groups, "entry is vacuous on the gate corpus"
    import hashlib
    import re

    docs = {
        r.doc_id: r.text for r in load_table(spark, sf, "documents").collect()
    }

    def tpl(text: str) -> str:
        head = " ".join(text.lower().split(" ")[:_L7_HEAD])
        return hashlib.md5(re.sub(r"[0-9]+", "#", head).encode()).hexdigest()

    by_tpl: dict[str, list[int]] = {}
    for did, text in docs.items():
        by_tpl.setdefault(tpl(text), []).append(did)
    want = {
        t: (len(ids), min(ids)) for t, ids in by_tpl.items() if len(ids) > 1
    }
    got = {r.tpl: (r.n_docs, r.exemplar_doc) for r in groups}
    assert got == want


def test_s18_gzip_scan_is_single_task_then_spread(spark):
    """The .json.gz scan must be ONE partition (non-splittable codec)
    and the entry's plan must repartition before the aggregate."""
    from chronicle_sniffer_spark.plans.round9 import _s18_stage

    staged = _s18_stage(spark, SF)
    raw = spark.read.schema(
        "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    ).json(staged)
    assert raw.rdd.getNumPartitions() == 1
    from chronicle_sniffer_spark.tables import spread

    assert spread(raw).rdd.getNumPartitions() > 1


def test_ts15_moments_match_python(spark):
    from chronicle_sniffer_spark.plans import registry

    rows = registry()["ts15_lag_cross_correlation"].spark_fn(spark, SF).collect()
    assert {r.lag for r in rows} == set(range(8))
    for r in rows:
        assert -1.0 <= r.r <= 1.0
        assert r.n > 0


def test_ts16_theil_sen_matches_python_median_of_slopes(spark):
    from fractions import Fraction

    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    daily = (
        load_table(spark, SF, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, r["count"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        xs = [x for _d, x in pts]
        slopes = sorted(
            (Fraction(xs[j] - xs[i], j - i), i + 1, j + 1)
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        )
        m = len(slopes)
        med = slopes[(m + 1) // 2 - 1][0]
        want[et] = (len(xs), m, float(med.numerator) / float(med.denominator))
    got = {
        r.event_type: (r.n_days, r.n_pairs, r.ts_slope)
        for r in registry()["ts16_theil_sen_slope"].spark_fn(spark, SF).collect()
    }
    # slope doubles: both sides compute int/int in double — exact match
    assert got == want


def test_ml13_bootstrap_ci_brackets_the_mean_and_is_deterministic(spark):
    from chronicle_sniffer_spark.plans import registry

    fn = registry()["ml13_poisson_bootstrap_ci"].spark_fn
    r1 = fn(spark, SF).collect()[0]
    r2 = fn(spark, SF).collect()[0]
    assert r1 == r2  # hash-seeded weights: same corpus -> same CI
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    assert r1.ci_lo < r1.ci_hi


def test_dq11_diff_classes_are_consistent(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    rows = {
        r.diff_class: r
        for r in registry()["dq11_snapshot_row_diff"].spark_fn(spark, SF).collect()
    }
    o = load_table(spark, SF, "orders")
    n = o.count()
    n_v1 = o.filter("o_orderkey % 50 != 0").count()
    n_v2 = o.filter("o_orderkey % 71 != 0").count()
    total = sum(r.n for r in rows.values())
    # every key present in either snapshot is classified exactly once
    n_union = o.filter("o_orderkey % 50 != 0 OR o_orderkey % 71 != 0").count()
    assert total == n_union
    assert rows["added"].n == n_v2 - o.filter(
        "o_orderkey % 50 != 0 AND o_orderkey % 71 != 0"
    ).count()
    ch = rows["changed"]
    # column attribution: every changed row changed price, status, or both
    assert ch.n <= ch.n_price_changed + ch.n_status_changed
    assert rows["unchanged"].n_price_changed == 0
    assert rows["unchanged"].n_status_changed == 0


def test_g8_alpha_matches_python_mle(spark):
    import math as m

    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.operators.graph import _copurchase_edges

    deg: dict[int, int] = {}
    for r in _copurchase_edges(spark, SF).collect():
        deg[r.u] = deg.get(r.u, 0) + 1
        deg[r.v] = deg.get(r.v, 0) + 1
    tail = [d for d in deg.values() if d >= 2]
    s = sum(round(m.log(d / 2.0), 9) for d in tail)
    want = round(1.0 + len(tail) / s, 6)
    row = registry()["g8_degree_powerlaw"].spark_fn(spark, SF).collect()[0]
    assert (row.n_tail, row.xmin) == (len(tail), 2)
    assert abs(row.alpha - want) < 2e-6  # per-term 9dp quantization slack


def test_o18_incremental_merge_is_not_vacuous(spark):
    """The incremental≡full oracle equality is only meaningful if the
    merge machinery actually DOES something: at least one delta event
    must extend or bridge a stored base session (a session spanning
    the cutoff), and untouched users must exist and pass through."""
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.plans.round9 import o18_cutoff_micros
    from chronicle_sniffer_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    out = registry()["o18_incremental_sessionize"].spark_fn(spark, sf)
    cut_us = o18_cutoff_micros(spark, sf).collect()[0].cutoff_us
    spanning = out.filter(
        (F.unix_micros("session_start") < cut_us)
        & (F.unix_micros("session_end") >= cut_us)
    ).count()
    assert spanning > 0, "no session spans the cutoff — merge path untested"
    e = load_table(spark, sf, "events")
    delta_users = {
        r.user_id
        for r in e.filter(
            F.unix_micros(F.col("ts").cast("timestamp")) >= cut_us
        ).select("user_id").distinct().collect()
    }
    all_users = {r.user_id for r in e.select("user_id").distinct().collect()}
    assert all_users - delta_users, "every user touched — untouched path untested"


def test_w7_rolling_median_matches_python(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    rows = (
        load_table(spark, SF, "events")
        .filter("event_type = 'purchase'")
        .select("user_id", "ts", "event_id", F.round(F.col("value") * 100).cast("bigint").alias("c"))
        .collect()
    )
    series: dict[int, list] = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.c))
    want = {}
    for uid, pts in series.items():
        pts.sort()
        for i in range(len(pts)):
            frame = sorted(c for _t, _e, c in pts[max(0, i - 6) : i + 1])
            n = len(frame)
            med = (
                float(frame[n // 2])
                if n % 2
                else (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            )
            want[(uid, pts[i][0], pts[i][1])] = med
    got_rows = registry()["w7_rolling_median"].spark_fn(spark, SF)
    # re-derive event_id pairing by joining back on (user_id, ts): the
    # entry doesn't emit event_id, so compare per (user, ts) multiset
    from collections import Counter

    got = Counter((r.user_id, r.ts, r.med_cents) for r in got_rows.collect())
    wanted = Counter((uid, ts, med) for (uid, ts, _eid), med in want.items())
    assert got == wanted


def test_ts17_mase_matches_python(spark):
    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.tables import load_table

    daily = (
        load_table(spark, SF, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "d")
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.d, r["count"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        xs = [x for _d, x in pts]
        ae_s = sum(abs(xs[i] - xs[i - 7]) for i in range(7, len(xs)))
        ae_n = sum(abs(xs[i] - xs[i - 1]) for i in range(7, len(xs)))
        want[et] = (len(xs) - 7, ae_s, ae_n)
    got = {
        r.event_type: (r.n_eval, r.ae_seasonal, r.ae_naive)
        for r in registry()["ts17_mase_backtest"].spark_fn(spark, SF).collect()
    }
    assert got == want


def test_ml14_feature_hash_matches_python(spark):
    import hashlib

    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.plans.round9 import _ML14_BUCKETS, _ML14_WSCALE
    from chronicle_sniffer_spark.tables import load_table

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % _ML14_BUCKETS

    def w_int(b: int) -> int:
        u = int(hashlib.md5(str(b).encode()).hexdigest()[:13], 16) / float(1 << 52)
        # banker's-free: Spark/DuckDB round() is HALF_UP for positives,
        # half-away for negatives; python round() is HALF_EVEN — use
        # the same half-away rule explicitly
        x = (u - 0.5) * 2 * _ML14_WSCALE
        import math as m

        return int(m.floor(x + 0.5)) if x >= 0 else int(m.ceil(x - 0.5))

    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    want = {}
    for r in docs:
        toks = r.text.lower().split(" ")
        s = sum(w_int(bucket(t)) for t in toks)
        want[r.doc_id] = (len(toks), s)
    got = {
        r.doc_id: (r.n_tokens, r.score_scaled)
        for r in registry()["ml14_feature_hash_score"].spark_fn(spark, SF).collect()
    }
    assert got == want
