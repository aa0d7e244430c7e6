"""Property tests for the round-8 sixth-wave operators (oracle parity
runs via the auto-parametrized tests/test_catalog.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_p20_loop_reaches_the_fixed_point(spark):
    """The scripted search must return the SMALLEST k whose width
    satisfies the cap — verified by recomputing the predicate at k and
    k-1 declaratively."""
    from chronicle_sniffer_spark.plans.round8e import _P20_BASE_W, p20_sql_scripting

    row = p20_sql_scripting(spark, SF_SMOKE).collect()[0]
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n_total = orders.count()

    def max_bucket(width: int) -> int:
        return (
            orders.groupBy(F.floor(F.col("o_totalprice") / width).cast("bigint"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    assert row.width == _P20_BASE_W * 2**row.k
    assert max_bucket(row.width) == row.max_bucket
    assert row.max_bucket * 4 >= n_total  # the loop's exit condition holds
    if row.k > 0:
        assert max_bucket(row.width // 2) * 4 < n_total  # k-1 fails the cap


def test_ml10_deciles_tile_and_lift_is_consistent(spark):
    """Decile doc counts must sum to the corpus, weighted lift must
    average to 1 (Σ n_b·lift_b = N·Σpos_b/P), and the top decile of a
    (near-random) scorer must still satisfy the arithmetic identity
    lift = (pos_b/n_b)/(P/N)."""
    from chronicle_sniffer_spark.plans.round8e import ml10_lift_table

    rows = ml10_lift_table(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    p_total = docs.filter(F.col("lang") == "en").count()
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.n_pos for r in rows) == p_total
    for r in rows:
        expect = (r.n_pos * n) / (r.n_docs * p_total)
        assert abs(r.lift - expect) < 1e-12
    wsum = sum(r.n_docs * r.lift for r in rows)
    assert abs(wsum - n) < 1e-6  # weighted-average lift ≡ 1


def test_u14_window_udaf_matches_sql(spark):
    """The pandas window UDAF must equal the pure-SQL weighted average
    over the identical bounded frame, row for row."""
    from chronicle_sniffer_spark.plans.round8e import u14_pandas_window_udaf

    got = {r.event_id: r.wavg_4 for r in u14_pandas_window_udaf(spark, SF_SMOKE).collect()}
    sql = spark.read.parquet(f"{SF_SMOKE}/events.parquet").filter(
        "event_type = 'purchase'"
    ).selectExpr(
        "event_id", "user_id",
        "unix_micros(cast(ts as timestamp)) AS ts_us",
        "value", "CAST(event_id % 5 + 1 AS DOUBLE) AS wgt",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-3, 0)
    expect = {
        r.event_id: r.e
        for r in sql.select(
            "event_id",
            (F.sum(F.col("value") * F.col("wgt")).over(w) / F.sum("wgt").over(w)).alias("e"),
        ).collect()
    }
    assert got.keys() == expect.keys()
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-9


def test_dq8_observed_metrics_match_second_pass(spark):
    """The piggybacked observation must equal an independent second
    pass, and the checksum metric must equal the sum of the RETURNED
    revenue column — the metrics describe exactly the flowed rows."""
    from decimal import Decimal

    from pyspark.sql import Observation

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").filter(
        F.col("l_quantity") > 5
    )
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").isNull().cast("int")).alias("null_prices"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("revenue_checksum"),
    )
    result = observed.groupBy("l_returnflag").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("revenue")
    ).collect()
    m = obs.get
    assert m["n_rows"] == li.count()
    assert m["null_prices"] == 0
    assert m["revenue_checksum"] == sum(
        (r.revenue for r in result), Decimal(0)
    )


def test_l8_pairs_have_positive_margin_and_provenance(spark):
    """Every pair: chosen outranks rejected (margin > 0 unless the
    whole group is one score), both docs belong to the pair's group,
    and groups emit at most K pairs."""
    from chronicle_sniffer_spark.plans.round8e import _L8_K, l8_preference_pairs

    rows = l8_preference_pairs(spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    }
    per_group: dict = {}
    for r in rows:
        assert docs[r.chosen_doc] == r.lang and docs[r.rejected_doc] == r.lang
        assert r.margin > 0
        per_group.setdefault(r.lang, []).append(r.pair_rank)
    assert per_group and all(len(v) <= _L8_K for v in per_group.values())


def test_p21_identifier_rejects_injection(spark):
    """A hostile identifier value must fail ANALYSIS (unresolved
    object), never execute as spliced SQL."""
    import pytest

    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").createOrReplaceTempView("orders")
    with pytest.raises(Exception) as exc:
        spark.sql(
            "SELECT count(*) FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders; DROP TABLE orders"},
        ).collect()
    assert exc.value is not None  # analysis-time rejection, not execution
    # the real assertion: the view is still queryable afterwards
    assert spark.sql("SELECT count(*) AS n FROM orders").collect()[0].n > 0


def test_ml11_chi2_matches_scipy_formula(spark):
    """The statistic must equal the textbook 2x2 chi-square computed in
    Python from the same cells, and assignment must be deterministic
    (two runs, identical cells)."""
    from chronicle_sniffer_spark.plans.round8e import ml11_chi2_ab_test

    r1 = ml11_chi2_ab_test(spark, SF_SMOKE).collect()[0]
    r2 = ml11_chi2_ab_test(spark, SF_SMOKE).collect()[0]
    assert (r1.a, r1.b, r1.c, r1.d) == (r2.a, r2.b, r2.c, r2.d)
    a, b, c, d = r1.a, r1.b, r1.c, r1.d
    assert min(a, b, c, d) > 0  # all four cells populated
    n = a + b + c + d
    expect = n * (a * d - b * c) ** 2 / ((a + b) * (c + d) * (a + c) * (b + d))
    assert abs(r1.chi2 - expect) < 1e-9


def test_dq9_inversions_match_python(spark):
    """Per-user inversion counts must equal a brute-force pass over the
    time-ordered sequence."""
    from chronicle_sniffer_spark.plans.round8e import dq9_order_inversions

    got = {
        r.user_id: (r.n_events, r.n_inversions)
        for r in dq9_order_inversions(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "user_id", "event_id", "unix_micros(cast(ts as timestamp)) AS us"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id))
    expect = {}
    for u, seq in by_user.items():
        seq.sort()
        inv = sum(1 for x, y in zip(seq, seq[1:]) if y[1] < x[1])
        expect[u] = (len(seq), inv)
    assert got == expect


def test_u15_arrow_udf_no_pandas_roundtrip(spark):
    """The arrow UDF path must produce byte-identical results to the
    JVM built-ins on non-ASCII-safe inputs too (codeunit slicing)."""
    from chronicle_sniffer_spark.plans.round8e import u15_arrow_scalar_udf

    got = {
        r.doc_id: (r.head12, r.n_chars2)
        for r in u15_arrow_scalar_udf(spark, SF_SMOKE).collect()
    }
    expect = {
        r.doc_id: (r.h, r.n)
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter("doc_id < 50")
        .selectExpr("doc_id", "upper(substring(text, 1, 12)) AS h",
                    "CAST(length(text) AS BIGINT) AS n")
        .collect()
    }
    assert got == expect and len(got) > 0


def test_s17_quarantine_accounts_for_every_line(spark):
    """good + corrupt must equal the written line count, the corrupt
    population must be exactly the generated garbage lines, and the
    corrupt RAW lines must be recoverable from the _corrupt column."""
    from chronicle_sniffer_spark.plans.round8e import (
        s17_corrupt_record_quarantine,
        s17_layout,
    )

    row = s17_corrupt_record_quarantine(spark, SF_SMOKE).collect()[0]
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    n_all = orders.count()
    n_bad = orders.filter(F.col("o_orderkey") % 101 == 0).count()
    assert row.n_good + row.n_corrupt == n_all
    assert row.n_corrupt == n_bad > 0
    # raw recovery: every corrupt line is present verbatim
    path = s17_layout(spark, SF_SMOKE)
    schema = "o_orderkey bigint, o_custkey bigint, o_totalprice double, _corrupt string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    bad_lines = [
        r._corrupt
        for r in df.select("o_orderkey", "o_custkey", "o_totalprice", "_corrupt")
        .filter(F.col("_corrupt").isNotNull())
        .collect()
    ]
    assert len(bad_lines) == n_bad
    assert all(l.startswith("garbage,") for l in bad_lines)


def test_u16_arrow_udtf_emits_batch_partials(spark):
    """The arrow UDTF must emit batch-LOCAL partials (rows <= distinct
    words x batches, aggregating to exact corpus counts)."""
    from chronicle_sniffer_spark.functions.udfs import register_arrow_udtf

    register_arrow_udtf(spark)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 50")
    docs.createOrReplaceTempView("documents")
    partials = spark.sql(
        "SELECT * FROM word_hist(TABLE(SELECT text FROM documents WHERE doc_id < 50))"
    ).collect()
    # partials are already collapsed per batch: every (batch-local) row
    # carries a count, and the total token mass is preserved
    total_tokens = sum(r.n for r in partials)
    expect_tokens = docs.selectExpr("size(split(text, ' ')) AS n").agg(
        F.sum("n")
    ).collect()[0][0]
    assert total_tokens == expect_tokens
    # and summed partials equal exact per-word counts
    from collections import Counter

    expect = Counter()
    for r in docs.select("text").collect():
        expect.update(r.text.split(" "))
    got = Counter()
    for r in partials:
        got[r.word] += r.n
    assert got == expect


def test_g6_cc_matches_networkx_style_python(spark):
    """Per-node coefficients must equal a brute-force adjacency-set
    computation over the same capped graph, with cc in [0, 1]."""
    from chronicle_sniffer_spark.operators.graph import _copurchase_edges
    from chronicle_sniffer_spark.plans.round8e import g6_clustering_coefficient

    edges = [(r.u, r.v) for r in _copurchase_edges(spark, SF_SMOKE).collect()]
    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect = {}
    for node, nbrs in adj.items():
        deg = len(nbrs)
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and y in adj.get(x, ())
        )
        cc = 2 * tri / (deg * (deg - 1)) if deg >= 2 else 0.0
        expect[node] = (deg, tri, round(cc, 12))
    got = {
        r.user_id: (r.deg, r.n_tri, round(r.cc, 12))
        for r in g6_clustering_coefficient(spark, SF_SMOKE).collect()
    }
    assert got == expect and len(got) > 0
    assert all(0.0 <= cc <= 1.0 for _, _, cc in got.values())
    assert any(tri > 0 for _, tri, _ in got.values())  # non-trivial graph


def test_o16_gaps_tile_the_punctured_sequence(spark):
    """Recovered gaps must exactly cover the punctured ids (every
    missing id in exactly one gap), survive partition seams, and the
    within-partition window must be partitioned (no global sort task)."""
    from chronicle_sniffer_spark.plans.round8e import o16_sequence_gaps

    df = o16_sequence_gaps(spark, SF_SMOKE)
    rows = df.collect()
    keys = sorted(
        r.id
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .filter("o_orderkey % 97 <> 0")
        .select(F.col("o_orderkey").alias("id"))
        .distinct()
        .collect()
    )
    present = set(keys)
    missing = {
        i for i in range(keys[0], keys[-1] + 1) if i not in present
    }
    covered = set()
    for r in rows:
        assert r.gap_end >= r.gap_start
        assert r.n_missing == r.gap_end - r.gap_start + 1
        span = set(range(r.gap_start, r.gap_end + 1))
        assert not (span & covered)  # gaps never overlap
        covered |= span
    assert covered == missing and missing
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window [" in line:
            assert "], [], [" not in line, f"global window: {line}"
