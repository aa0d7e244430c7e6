"""Round-13 additions: g13 degree cap + audit."""

from __future__ import annotations

from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _edges(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )


def test_g13_cap_is_lossless_on_fixture(spark):
    """The degree-capped candidate generation + exact credit must
    reproduce the UNCAPPED top-k exactly on the fixture corpus (the
    cap can only cost recall for pairs ALL of whose shared customers
    are hot; the audit entry quantifies that exposure corpus-wide)."""
    from chronicle_sniffer_spark.plans.round12 import (
        G13_TOPK,
        g13_common_neighbors,
    )

    e = _edges(spark, SF_SMOKE)
    deg = e.groupBy("s").agg(F.count("*").cast("bigint").alias("d"))
    pairs = (
        e.select(F.col("s").alias("s1"), "c")
        .join(e.select(F.col("s").alias("s2"), "c"), "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("bigint").alias("common"))
    )
    uncapped = (
        pairs.join(F.broadcast(deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))), "s1")
        .join(F.broadcast(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))), "s2")
        .select(
            "s1",
            "s2",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "s1", "s2")
        .limit(G13_TOPK)
    )
    got = [tuple(r) for r in g13_common_neighbors(spark, SF_SMOKE).collect()]
    want = [tuple(r) for r in uncapped.collect()]
    assert got == want


def test_g13_audit_reconciles_with_cap_arithmetic(spark):
    """wedges_kept + wedges_dropped == wedges_total, and the kept
    volume is what a CAP-bounded wedge join can generate: per-customer
    at most C(CAP, 2)."""
    from chronicle_sniffer_spark.operators.graph import G13_DEG_CAP
    from chronicle_sniffer_spark.plans.round13 import g13_degree_cap_audit

    row = g13_degree_cap_audit(spark, SF_SMOKE).collect()[0]
    assert row.wedges_kept + row.wedges_dropped == row.wedges_total
    cap_pairs = G13_DEG_CAP * (G13_DEG_CAP - 1) // 2
    assert row.wedges_kept <= row.n_customers * cap_pairs
    # the fixture has hot customers or the cap test is vacuous
    e = _edges(spark, SF_SMOKE)
    max_deg = e.groupBy("c").count().agg(F.max("count")).collect()[0][0]
    assert row.max_deg == max_deg
    if max_deg > G13_DEG_CAP:
        assert row.n_hot > 0 and row.wedges_dropped > 0


def test_a24b_production_matches_full_entry_sketch_columns(spark):
    """The production (sketch-only) variant must report the same
    kth_min and estimate as a24_kmv_distinct's sketch columns, and
    its n_sketch must equal min(K, n_exact) — KMV is exact below K."""
    from chronicle_sniffer_spark.operators.sketches import KMV_K
    from chronicle_sniffer_spark.plans.round11 import a24_kmv_distinct
    from chronicle_sniffer_spark.plans.round13 import a24b_kmv_production

    full = {r.o_orderpriority: r for r in a24_kmv_distinct(spark, SF_SMOKE).collect()}
    prod = {r.o_orderpriority: r for r in a24b_kmv_production(spark, SF_SMOKE).collect()}
    assert set(full) == set(prod)
    for k, p in prod.items():
        f = full[k]
        assert p.kth_min == f.kth_min
        assert p.kmv_est == f.kmv_est
        assert p.n_sketch == min(KMV_K, f.n_exact)


def test_crawl_funnel_reconciles_with_standalone_stages(spark):
    """The composed funnel's per-stage counts must equal an
    independent recompute from the STANDALONE building blocks: the
    s20 pipeline's extracted text, quality.py's C4 constants, md5
    keep-min dedup, the shared near-dup label table, and the
    l6_hash_split Lehmer arithmetic."""
    import hashlib

    from chronicle_sniffer_spark.operators.dedup import shared_pairs_and_labels
    from chronicle_sniffer_spark.operators.quality import (
        MAX_SYMBOL_RATIO,
        MEAN_WL_HI,
        MEAN_WL_LO,
        MIN_WORDS,
    )
    from chronicle_sniffer_spark.plans.round12 import s20_warc_html_pipeline
    from chronicle_sniffer_spark.plans.round13 import (
        CRAWL_MIX_A,
        CRAWL_MIX_M,
        CRAWL_TRAIN_PCT,
        l6_crawl_funnel,
    )

    rows = {r.stage: r for r in l6_crawl_funnel(spark, SF_SMOKE).collect()}
    order = [
        "0_container",
        "1_html_extract",
        "2_c4_gate",
        "3_exact_dedup",
        "4_near_dedup",
        "5_train_mix",
    ]
    assert set(rows) == set(order)
    docs = [rows[s].n_docs for s in order]
    assert docs == sorted(docs, reverse=True), "funnel doc counts must be non-increasing"
    n_raw = load_table(spark, SF_SMOKE, "documents").count()
    assert rows["0_container"].n_docs == n_raw
    assert rows["1_html_extract"].n_docs == n_raw

    # independent recompute from the standalone extractor output
    ext = {
        r.doc_id: r.text
        for r in s20_warc_html_pipeline(spark, SF_SMOKE).collect()
    }
    assert len(ext) == n_raw
    tok = {d: len(t.split(" ")) for d, t in ext.items()}
    assert rows["1_html_extract"].n_tokens == sum(tok.values())

    def c4_keep(t: str) -> bool:
        words = t.split(" ")
        nw = len(words)
        if nw < MIN_WORDS:
            return False
        mwl = round(len(t.replace(" ", "")) / nw, 6)
        import re as _re

        sym = round(len(_re.sub("[A-Za-z0-9 ]", "", t)) / len(t), 6)
        return MEAN_WL_LO <= mwl <= MEAN_WL_HI and sym < MAX_SYMBOL_RATIO

    s2 = {d for d, t in ext.items() if c4_keep(t)}
    assert rows["2_c4_gate"].n_docs == len(s2)
    assert rows["2_c4_gate"].n_tokens == sum(tok[d] for d in s2)

    best: dict[str, int] = {}
    for d in sorted(s2):
        h = hashlib.md5(ext[d].encode()).hexdigest()
        best.setdefault(h, d)
    s3 = set(best.values())
    assert rows["3_exact_dedup"].n_docs == len(s3)

    _, labels = shared_pairs_and_labels(spark, SF_SMOKE)
    noncanon = {
        r.node for r in labels.filter(F.col("node") != F.col("label")).collect()
    }
    s4 = s3 - noncanon
    assert rows["4_near_dedup"].n_docs == len(s4)
    assert rows["4_near_dedup"].n_tokens == sum(tok[d] for d in s4)

    s5 = {d for d in s4 if (d * CRAWL_MIX_A) % CRAWL_MIX_M % 100 < CRAWL_TRAIN_PCT}
    assert rows["5_train_mix"].n_docs == len(s5)
    assert rows["5_train_mix"].n_tokens == sum(tok[d] for d in s5)


def test_cdx_index_partitions_files_and_targeted_read_matches_scan(spark, tmp_path):
    """The CDX index must PARTITION each container (offsets contiguous
    from 0, lengths summing to the file size — one byte off and a
    ranged read lands mid-member), and a targeted read through it
    must return byte-identical records to filtering the full scan."""
    import os

    from chronicle_sniffer_spark.sources.warc import (
        build_cdx,
        read_warc,
        read_warc_cdx,
        write_warc,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("html")
    )
    out = str(tmp_path / "crawl")
    write_warc(docs, out, n_files=3)
    cdx = build_cdx(spark, out)
    rows = cdx.collect()
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r.file, []).append(r)
    assert len(by_file) == 3
    for path, members in by_file.items():
        members.sort(key=lambda r: r.offset)
        pos = 0
        for m in members:
            assert m.offset == pos, "offsets must be contiguous"
            pos += m.length
        local = path[len("file:"):] if path.startswith("file:") else path
        assert pos == os.path.getsize(local), "lengths must sum to file size"
    # targeted read of every 7th doc == the full scan filtered
    picked = cdx.filter(
        (F.col("warc_type") == "response")
        & F.col("target_uri").rlike(r"/doc/\d+$")
        & (
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("bigint") % 7
            == 0
        )
    )
    via_cdx = {
        (r.target_uri, bytes(r.payload), r.text, r.decode_errors)
        for r in read_warc_cdx(picked).collect()
    }
    via_scan = {
        (r.target_uri, bytes(r.payload), r.text, r.decode_errors)
        for r in read_warc(spark, out).collect()
        if r.warc_type == "response"
        and "/doc/" in r.target_uri
        and int(r.target_uri.rsplit("/", 1)[1]) % 7 == 0
    }
    assert via_cdx == via_scan and len(via_cdx) > 0


def test_isotonic_fit_is_monotone_and_weighted_mean_preserving(spark):
    """PAV's two defining properties: the fitted rates are
    non-decreasing in the bin order, and the n-weighted mean of the
    fit equals the n-weighted mean of the empirical rates (pooling
    only averages, never shifts mass)."""
    from chronicle_sniffer_spark.plans.round13 import ml26_isotonic_calibration

    rows = sorted(
        ml26_isotonic_calibration(spark, SF_SMOKE).collect(),
        key=lambda r: r.bin,
    )
    fits = [r.isotonic_rate for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))
    wm_fit = sum(r.n * r.isotonic_rate for r in rows) / sum(r.n for r in rows)
    wm_emp = sum(r.o for r in rows) / sum(r.n for r in rows)
    assert abs(wm_fit - wm_emp) < 1e-5
    # and the fit actually pooled something (violators exist)
    emps = [r.emp_rate for r in rows]
    assert any(a > b for a, b in zip(emps, emps[1:])), "fixture has no violators"
    assert fits != emps


def test_mann_whitney_matches_bruteforce_on_fixture(spark):
    """u2_a must equal the brute-force pairwise count 2·(#wins) +
    (#ties) over the two samples — the definitional U, computed in
    O(n²) Python on the smoke corpus."""
    from chronicle_sniffer_spark.plans.round13 import (
        ML27_A,
        ML27_B,
        ml27_mann_whitney_u,
    )

    rows = load_table(spark, SF_SMOKE, "orders").collect()
    a = [round(r.o_totalprice * 100) for r in rows if r.o_orderpriority == ML27_A]
    b = [round(r.o_totalprice * 100) for r in rows if r.o_orderpriority == ML27_B]
    u2 = sum(2 if x > y else (1 if x == y else 0) for x in a for y in b)
    got = ml27_mann_whitney_u(spark, SF_SMOKE).collect()[0]
    assert got.n1 == len(a) and got.n2 == len(b)
    assert got.u2_a == u2


def test_sax_symbols_are_equiprobable_quartiles(spark):
    """Per event_type, the 4 symbols partition the windows into
    ntile-sized groups (sizes differ by at most 1) and the symbol
    order respects the PAA order."""
    from chronicle_sniffer_spark.plans.round13 import ts25_sax_symbolize

    rows = ts25_sax_symbolize(spark, SF_SMOKE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type) >= 3
    for t, rs in by_type.items():
        counts = {}
        for r in rs:
            counts[r.sym] = counts.get(r.sym, 0) + 1
        assert set(counts) <= set("abcd")
        if len(rs) >= 4:
            assert max(counts.values()) - min(counts.values()) <= 1
        # symbol order respects PAA order (ties broken by win)
        ordered = sorted(rs, key=lambda r: (r.paa, r.win))
        syms = [r.sym for r in ordered]
        assert syms == sorted(syms)


def test_audio_resample_is_exact_linear_interpolation(spark):
    """Property check independent of the oracle's closed form: decode
    one fixture WAV, resample, and compare EVERY output sample to a
    hand-rolled midpoint interpolation."""
    import numpy as np

    from chronicle_sniffer_spark.operators.codecs import decode_wav, encode_wav
    from chronicle_sniffer_spark.operators.multimodal import audio_resample

    rng = [7, -3, 12, 0, -12, 5, 5, -8]  # NOT a square wave
    wav = encode_wav(np.array(rng, dtype=np.int16), 8000)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav))], "media_id bigint, kind string, payload binary"
    )
    row = audio_resample(media, 16000).collect()[0]
    want = []
    for k in range(len(rng) - 1):
        want += [rng[k], (rng[k] + rng[k + 1]) / 2]
    want.append(rng[-1])
    assert row.n_out == len(want) == 2 * len(rng) - 1
    assert row.sum_abs2 == int(round(sum(2 * abs(float(v)) for v in want)))
    assert abs(row.rms - float(np.sqrt(np.mean(np.array(want, dtype=float) ** 2)))) < 1e-9


def test_lang_id_trigram_extraction_drops_short_texts(spark):
    """Documents shorter than 3 chars must yield ZERO trigrams — the
    unguarded Spark sequence(1, len-2) infers step -1 for len < 3 and
    yields a descending [1, 0] (two bogus partial trigrams) where
    DuckDB's generate_series(1, 0) is empty; this pins the guarded
    behavior on exactly those lengths."""
    from pyspark.sql import functions as F2

    df = spark.createDataFrame(
        [(1, "en", ""), (2, "en", "a"), (3, "en", "ab"), (4, "en", "abc"),
         (5, "en", "abcd")],
        "doc_id bigint, lang string, text string",
    )
    positions = F2.when(
        F2.length("text") >= 3, F2.sequence(F2.lit(1), F2.length("text") - 2)
    ).otherwise(F2.array().cast("array<int>"))
    tri = df.select(
        "doc_id", F2.explode(positions).alias("i"), "text"
    ).select("doc_id", F2.expr("substr(text, i, 3)").alias("g"))
    got = sorted((r.doc_id, r.g) for r in tri.collect())
    assert got == [(4, "abc"), (5, "abc"), (5, "bcd")]
