"""Round-14 additions: advisor fixes (charset decode hardening,
thread-local replacement counts, centroid-cache eviction)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F


def test_decode_payload_nontext_codec_falls_back_to_utf8():
    """A declared charset that resolves to a BYTE-TRANSFORM codec
    (base64, hex, rot13, zlib — all accepted by parse_charset's token
    regex) must be absorbed like an unknown name, not crash the scan
    task with LookupError('not a text encoding')."""
    from chronicle_sniffer_spark.sources.warc import decode_payload, parse_charset

    payload = "résumé".encode("utf-8")
    for cs in ("base64", "hex", "rot13", "zlib", "uu", "bz2"):
        assert parse_charset(f"text/html; charset={cs}") == cs
        text, n_err = decode_payload(payload, cs)
        assert text == "résumé"  # utf-8 fallback decodes cleanly
        assert n_err == 0
    # and a genuinely undecodable payload under the fallback still
    # counts its damage
    text, n_err = decode_payload(b"caf\xe9", "base64")
    assert text == "caf�"
    assert n_err == 1


def test_decode_payload_counts_are_thread_safe():
    """The registered error handler is process-wide; counts must be
    attributed per-thread, not through a shared global (round-13
    advisor finding).  Each thread decodes a payload with a DIFFERENT
    known damage count many times — any cross-thread bleed shows up
    as a wrong count."""
    from chronicle_sniffer_spark.sources.warc import decode_payload

    payloads = {
        1: (b"a\xff" * 1, 1),
        2: (b"b\xff" * 2, 2),
        5: (b"c\xff" * 5, 5),
        9: (b"d\xff" * 9, 9),
    }
    errors: list[str] = []

    def worker(k: int) -> None:
        data, want = payloads[k]
        for _ in range(300):
            _, n = decode_payload(data, "utf-8")
            if n != want:
                errors.append(f"thread {k}: got {n}, want {want}")
                return

    threads = [threading.Thread(target=worker, args=(k,)) for k in payloads]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_g13_verify_broadcast_is_gated_on_expansion_size(spark, monkeypatch):
    """The verify expansion's broadcast hint must be conditional on
    its EXACT row count (Σ deg(s1) over survivors): above the bound —
    here forced to 0, the 'hub supplier survived' case — the plan
    takes a shuffle-hash join instead of an unconditional broadcast
    (which bypasses Spark's size checks and would OOM on a power-law
    hub), and the emitted top-k is unchanged."""
    import chronicle_sniffer_spark.plans.round12 as r12

    sf = "/root/testdata/sf0.001"
    df_default = r12.g13_common_neighbors(spark, sf)
    plan_default = df_default._jdf.queryExecution().executedPlan().toString()
    want = [tuple(r) for r in df_default.collect()]
    assert "ShuffledHashJoin" not in plan_default

    monkeypatch.setattr(r12, "G13_BCAST_VERIFY_ROWS", 0)
    df_fb = r12.g13_common_neighbors(spark, sf)
    plan_fb = df_fb._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_fb
    assert plan_fb.count("BroadcastHashJoin") == plan_default.count(
        "BroadcastHashJoin"
    ) - 1
    assert [tuple(r) for r in df_fb.collect()] == want


def test_warc_media_payloads_match_synthesized_corpus(spark):
    """The container-served media bytes must be the EXACT bytes the
    synthesized media corpus derives from doc_id — the two families
    (container scan, l5 codecs) meet on byte-identical payloads, so
    the s20_warc_*_decode oracles pin the same closed forms the l5
    entries do."""
    from chronicle_sniffer_spark.operators.multimodal import (
        synthesize_media_encoded,
    )
    from chronicle_sniffer_spark.sources.warc import _warc_dir
    from chronicle_sniffer_spark.sources.warc import BMP_MOD, WAV_MOD, read_warc
    from chronicle_sniffer_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    recs = (
        read_warc(spark, _warc_dir(spark, sf))
        .filter(F.col("content_type").isin("image/bmp", "audio/wav"))
        .select(
            "content_type",
            F.regexp_extract("target_uri", r"/(?:img|aud)/(\d+)$", 1)
            .cast("bigint")
            .alias("media_id"),
            F.md5("payload").alias("h"),
        )
    )
    served = {
        (("image" if r.content_type == "image/bmp" else "audio"), r.media_id): r.h
        for r in recs.collect()
    }
    docs = load_table(spark, sf, "documents")
    synth = {
        (r.kind, r.media_id): r.h
        for r in synthesize_media_encoded(docs)
        .filter(
            (F.col("media_id") % BMP_MOD == 0) | (F.col("media_id") % WAV_MOD == 0)
        )
        .select("kind", "media_id", F.md5("payload").alias("h"))
        .collect()
    }
    # the container grids are mod-based; the synthesized corpus routes
    # kind by media_id % 3 — compare only (kind, id) pairs both
    # produce (image: %3==0 and %BMP_MOD==0; audio: %3==1 and
    # %WAV_MOD==0)
    comparable = {
        (kind, mid)
        for kind, mid in served
        if (kind == "image" and mid % 3 == 0 and mid % BMP_MOD == 0)
        or (kind == "audio" and mid % 3 == 1 and mid % WAV_MOD == 0)
    }
    assert comparable, "fixture has no overlapping media ids at this SF"
    for key in comparable:
        assert served[key] == synth[key], f"payload drift for media {key}"
    # media responses skip the charset decoder entirely
    gated = (
        read_warc(spark, _warc_dir(spark, sf))
        .filter(F.col("content_type").isin("image/bmp", "audio/wav"))
        .select("text", "decode_errors")
        .collect()
    )
    assert gated and all(r.text is None and r.decode_errors == 0 for r in gated)


def test_lang_id_accuracy_beats_majority_prior(spark):
    """With the per-language vocabulary injection the classifier must
    carry real signal: accuracy strictly above the majority-class
    prior (the shared-vocabulary fixture pinned it AT the prior by
    construction — round-13 verdict #5).  On this fixture the margin
    is wide (measured 1.0 at sf0.001); the assert keeps slack for
    fixture regeneration."""
    from collections import Counter

    from chronicle_sniffer_spark.plans.round13 import l4_lang_id_trigram

    rows = l4_lang_id_trigram(spark, "/root/testdata/sf0.001").collect()
    total = sum(r.n_docs for r in rows)
    diag = sum(r.n_docs for r in rows if r.true_lang == r.pred_lang)
    truth = Counter()
    for r in rows:
        truth[r.true_lang] += r.n_docs
    prior = max(truth.values()) / total
    assert diag / total > prior
    assert diag / total >= 0.9


def test_centroid_cache_evicts_superseded_versions(spark, tmp_path):
    """Rebuild/upsert bumps the manifest version; the per-snapshot
    centroid cache must not retain one collected list per superseded
    version for the same (app, index) (round-13 advisor finding)."""
    from chronicle_sniffer_spark.operators import ivf
    from chronicle_sniffer_spark.streaming import manifest as mf

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    index_dir = str(tmp_path / "idx")
    ivf.ivf_index_write(emb, index_dir, n_centroids=4, n_iter=3)
    m1 = mf.read_manifest(index_dir)
    ivf._cached_centroids(spark, index_dir, m1)
    delta = spark.createDataFrame(
        [(100, [9.0, 9.0])], "vec_id bigint, embedding array<double>"
    )
    ivf.ivf_index_upsert(spark, index_dir, delta)
    m2 = mf.read_manifest(index_dir)
    assert m2["version"] > m1["version"]
    ivf._cached_centroids(spark, index_dir, m2)
    keys = [
        k
        for k in ivf._CENTROID_CACHE
        if k[0] == spark.sparkContext.applicationId and k[1] == index_dir
    ]
    assert keys == [
        (spark.sparkContext.applicationId, index_dir, m2["version"])
    ]


def _s24_setup(spark):
    """Run the streaming ingest once over 16 fresh sf0.001 containers
    into a fresh table dir; returns (warc_dir, table_dir).  The file
    count is fixed, not one per core, so the 8-file triggers make
    several micro-batches on any core count."""
    from chronicle_sniffer_spark.operators.html import _pages
    from chronicle_sniffer_spark.sources.warc import write_warc
    from chronicle_sniffer_spark.streaming.crawl import stream_crawl_ingest
    from chronicle_sniffer_spark.tables import session_tmpdir

    sf = "/root/testdata/sf0.001"
    wdir = session_tmpdir("s24_warc_")
    write_warc(_pages(spark, sf), wdir, n_files=16)
    table = session_tmpdir("s24_tab_")
    ckpt = session_tmpdir("s24_ckpt_")
    stream_crawl_ingest(spark, wdir, table, ckpt, max_files_per_trigger=8)
    return wdir, table


def test_s24_stream_equals_batch(spark):
    """The streamed, manifest-committed crawl table must equal the
    batch path ROW-FOR-ROW — stream ≡ batch as a property of shared
    stage code (streaming/crawl.py gated_extract runs in both)."""
    from chronicle_sniffer_spark.sources.warc import read_warc
    from chronicle_sniffer_spark.streaming.crawl import (
        gated_extract,
        read_crawl_table,
    )
    from chronicle_sniffer_spark.streaming import manifest as mf

    wdir, table = _s24_setup(spark)
    got = sorted(
        tuple(r) for r in read_crawl_table(spark, table).collect()
    )
    want = sorted(
        tuple(r)
        for r in gated_extract(read_warc(spark, wdir)).collect()
    )
    assert got and got == want
    # several real micro-batches, not one gulp: the final epoch is the
    # (n_files / maxFilesPerTrigger) - 1'th commit
    m = mf.read_manifest(table)
    n_files = len(
        [p for p in __import__("os").listdir(wdir) if p.endswith(".warc.gz")]
    )
    assert m["epoch"] == (n_files + 7) // 8 - 1 >= 1


def test_s24_redelivery_rewrites_not_appends(spark):
    """The S7 idempotence contract, driven directly through the
    foreachBatch merge: (a) re-delivering a container with identical
    bytes leaves the table byte-identical at a NEW manifest version;
    (b) re-delivering it with CHANGED content that now yields zero
    gated docs removes its old rows — and a bucket drained to zero
    leaves the manifest in the same flip (no stale path keeps
    serving)."""
    import os

    from chronicle_sniffer_spark.sources import warc as w
    from chronicle_sniffer_spark.streaming import manifest as mf
    from chronicle_sniffer_spark.streaming.crawl import (
        merge_containers,
        read_crawl_table,
    )

    wdir, table = _s24_setup(spark)
    before = sorted(tuple(r) for r in read_crawl_table(spark, table).collect())
    v0 = mf.read_manifest(table)["version"]

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(wdir)
        .select("path", "content")
    )
    # a file whose bucket no OTHER fixture file shares, so draining it
    # must drop the bucket itself from the manifest
    fb = [
        (r.path, r.bucket)
        for r in files.select(
            "path", mf.bucket_of("path").alias("bucket")
        ).collect()
    ]
    from collections import Counter

    counts = Counter(b for _, b in fb)
    path, bucket = next((p, b) for p, b in fb if counts[b] == 1)

    # (a) identical re-delivery
    one = files.filter(files.path == path)
    v1 = merge_containers(spark, table, one)
    after = sorted(tuple(r) for r in read_crawl_table(spark, table).collect())
    assert after == before
    assert mf.read_manifest(table)["version"] > v0

    # (b) changed content: one member, a response whose URI is not a
    # /doc/N page — decodes fine, yields ZERO gated docs
    dummy = w._record(
        "response",
        "urn:uuid:replaced",
        "https://example.org/robots.txt",
        w._http_response(b"User-agent: *\r\n", "text/plain; charset=utf-8"),
    )
    changed = spark.createDataFrame(
        [(path, bytearray(dummy))], "path string, content binary"
    )
    merge_containers(spark, table, changed)
    rows = read_crawl_table(spark, table).collect()
    assert all(r.file != path for r in rows)
    kept = sorted(tuple(r) for r in rows)
    want = sorted(t for t in before if t[1] != path)
    assert kept == want
    m = mf.read_manifest(table)
    assert str(bucket) not in m["buckets"]


def test_ts26_twa_weights_by_holding_time(spark):
    """A value held 9× longer must dominate the LOCF average: two
    samples 90 s apart then one 10 s later → TWA = (v1·90 + v2·10)/100,
    NOT the plain mean."""
    from chronicle_sniffer_spark.plans.catalog import registry

    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t0, 7, "x", 10.0, "{}"),
        (2, t0 + dt.timedelta(seconds=90), 7, "x", 20.0, "{}"),
        (3, t0 + dt.timedelta(seconds=100), 7, "x", 99.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    import chronicle_sniffer_spark.plans.round14 as r14
    from chronicle_sniffer_spark import tables

    orig = tables.load_table
    try:
        r14.load_table = lambda s, d, n: ev
        out = registry()["ts26_time_weighted_avg"].spark_fn(spark, "ignored").collect()
    finally:
        r14.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 3
    # (1000 cents * 90e6 us + 2000 * 10e6) / 100e6 / 100
    assert r.twa == (1000 * 90_000_000 + 2000 * 10_000_000) / 100_000_000 / 100
    # the LAST value never contributes (no holding interval after it)
    assert abs(r.twa - 11.0) < 1e-12


def test_ml28_spearman_exact_on_known_rankings(spark):
    """Monotone-increasing values over time must give ρ = +1; a
    strictly decreasing day gives ρ = −1 (exact, not approximate)."""
    from chronicle_sniffer_spark.plans.catalog import registry
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    up = [
        (i, t0 + dt.timedelta(minutes=i), 1, "up", float(i), "{}")
        for i in range(10)
    ]
    down = [
        (100 + i, t0 + dt.timedelta(days=1, minutes=i), 1, "down",
         float(100 - i), "{}")
        for i in range(10)
    ]
    ev = spark.createDataFrame(
        up + down,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    import chronicle_sniffer_spark.plans.round14 as r14

    orig = r14.load_table
    try:
        r14.load_table = lambda s, d, n: ev
        out = {
            r.event_type: r.rho
            for r in registry()["ml28_spearman_rho"].spark_fn(spark, "x").collect()
        }
    finally:
        r14.load_table = orig
    assert out["up"] == 1.0
    assert out["down"] == -1.0


def test_ml29_ndcg_perfect_ranking_is_one(spark):
    """When score order coincides with relevance order, DCG == IDCG
    exactly (integer picos), so NDCG is exactly 1.0; a reversed
    ranking is strictly below 1."""
    from chronicle_sniffer_spark.plans.catalog import registry
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    # user 1: value descends WITH relevance (event_id % 4 descending)
    perfect = [
        (eid, t0, 1, "x", 100.0 - i, "{}")
        for i, eid in enumerate([3, 2, 1, 0])  # rel = eid % 4 = eid
    ]
    # user 2: value order exactly reversed vs relevance
    reverse = [
        (eid, t0, 2, "x", float(i), "{}")
        for i, eid in enumerate([7, 6, 5, 4])  # rel 3,2,1,0 — low value on high rel
    ]
    ev = spark.createDataFrame(
        perfect + reverse,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    import chronicle_sniffer_spark.plans.round14 as r14

    orig = r14.load_table
    try:
        r14.load_table = lambda s, d, n: ev
        out = {
            r.user_id: r
            for r in registry()["ml29_ndcg_eval"].spark_fn(spark, "x").collect()
        }
    finally:
        r14.load_table = orig
    assert out[1].ndcg == 1.0
    assert out[1].dcg_picos == out[1].idcg_picos > 0
    assert out[2].ndcg < 1.0


def test_ml30_kappa_closed_form():
    """κ on the synthetic raters must equal the hand-derived closed
    form from the agreement/marginal counts (checked at sf0.001 via
    DuckDB so the test pins BOTH engines to the textbook formula)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS FROM '/root/testdata/sf0.001/events.parquet'"
    )
    from chronicle_sniffer_spark.plans.catalog import registry

    rows = con.execute(
        registry()["ml30_cohens_kappa"].oracle
    ).fetchall()
    assert rows
    for _etype, n, agree, pe_num, kappa in rows:
        want = (n * agree - pe_num) / (n * n - pe_num)
        assert kappa == want
        # the synthetic raters agree exactly when event_id % 5 != 0
        assert 0 < agree < n


def test_s25_positions_delete_the_right_physical_rows(spark, tmp_path):
    """Hand-built two-file base: deleting (file, pos) pairs must drop
    exactly the addressed physical rows, not key-matched ones."""
    from pyspark.sql import functions as F

    base_dir = str(tmp_path / "base")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k bigint, v string"
    )
    df.repartition(2, "k").write.parquet(base_dir)
    scan = spark.read.parquet(base_dir).select(
        F.col("_metadata.file_name").alias("f"),
        F.col("_metadata.row_index").alias("p"),
        "k",
    )
    # delete the first TWO physical rows of each file — a purely
    # positional criterion no key predicate can express
    dv = scan.filter(F.col("p") < 2).select("f", "p")
    live = scan.join(dv, ["f", "p"], "left_anti")
    assert live.count() == 96
    # re-scan: the same 96 keys survive (position mapping is stable)
    again = scan.join(dv, ["f", "p"], "left_anti")
    assert sorted(r.k for r in again.collect()) == sorted(
        r.k for r in live.collect()
    )


def test_l5_scene_cut_flags_exactly_the_wraps(spark):
    """Frames step +22 gray mod 256 except at the mod-128 wrap
    (|Δ|=234): every diff must be 22 or 234 and n_cuts must count the
    234s — verified through REAL byte decode on the sf0.001 corpus."""
    from chronicle_sniffer_spark.plans.catalog import registry

    rows = (
        registry()["l5_video_scene_cut"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    for r in rows:
        d = r.media_id
        n = 2 + d % 4
        assert r.n_frames == n
        diffs = [
            abs(
                2 * ((d * 7 + (f + 1) * 11) % 128)
                - 2 * ((d * 7 + f * 11) % 128)
            )
            for f in range(n - 1)
        ]
        assert all(x in (22, 234) for x in diffs)
        assert r.n_cuts == sum(1 for x in diffs if x == 234)
        assert r.sum_diff == sum(diffs)
        assert r.max_diff == max(diffs)


def test_ivf_delete_touches_only_affected_cells(spark, tmp_path):
    """Deleting ids must rewrite ONLY the cells that held them:
    untouched cells keep serving byte-identical files from their old
    paths, deleted ids vanish, and a cell drained to zero leaves the
    bucket map in the same manifest flip."""
    import os

    from chronicle_sniffer_spark.operators import ivf
    from chronicle_sniffer_spark.streaming import manifest as mf

    emb = spark.createDataFrame(
        [(i, [float(i % 13), float((i * 5) % 11)]) for i in range(120)],
        "vec_id bigint, embedding array<double>",
    )
    index_dir = str(tmp_path / "idx")
    ivf.ivf_index_write(emb, index_dir, n_centroids=4, n_iter=3)
    m0 = mf.read_manifest(index_dir)
    cells0 = ivf.ivf_read_cells(spark, index_dir, manifest=m0)
    by_cell: dict[int, list[int]] = {}
    for r in cells0.select("vec_id", "cid").collect():
        by_cell.setdefault(r.cid, []).append(r.vec_id)
    assert len(by_cell) >= 3
    cids = sorted(by_cell)
    victim, survivor = cids[0], cids[-1]

    def _files(m, cid):
        paths = mf.bucket_paths(index_dir, m, {cid})
        out = {}
        for p in paths:
            for f in sorted(os.listdir(p)):
                if f.endswith(".parquet"):
                    with open(os.path.join(p, f), "rb") as fh:
                        out[f] = fh.read()
        return out

    survivor_before = _files(m0, survivor)

    # delete HALF of the victim cell
    half = by_cell[victim][: len(by_cell[victim]) // 2]
    touched = ivf.ivf_index_delete(
        spark,
        index_dir,
        spark.createDataFrame([(i,) for i in half], "vec_id bigint"),
    )
    assert touched == [victim]
    m1 = mf.read_manifest(index_dir)
    assert m1["version"] == m0["version"] + 1
    assert _files(m1, survivor) == survivor_before  # byte-identical
    left = {
        r.vec_id
        for r in ivf.ivf_read_cells(spark, index_dir, manifest=m1).collect()
    }
    assert left == {r.vec_id for r in cells0.collect()} - set(half)

    # drain the victim cell entirely -> bucket leaves the map
    rest = by_cell[victim][len(by_cell[victim]) // 2 :]
    ivf.ivf_index_delete(
        spark,
        index_dir,
        spark.createDataFrame([(i,) for i in rest], "vec_id bigint"),
    )
    m2 = mf.read_manifest(index_dir)
    assert str(victim) not in m2["buckets"]
    # a delete list touching nothing is a no-op
    assert (
        ivf.ivf_index_delete(
            spark,
            index_dir,
            spark.createDataFrame([(99999,)], "vec_id bigint"),
        )
        == []
    )
    assert mf.read_manifest(index_dir)["version"] == m2["version"]


def test_ivf_delete_crash_before_commit_serves_old_snapshot(
    spark, tmp_path, crash_before_commit
):
    """A crash between the staged cell write and the manifest flip
    must leave readers on the exact pre-delete snapshot."""
    import pytest

    from chronicle_sniffer_spark.operators import ivf
    from chronicle_sniffer_spark.streaming import manifest as mf

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(80)],
        "vec_id bigint, embedding array<double>",
    )
    index_dir = str(tmp_path / "idx")
    ivf.ivf_index_write(emb, index_dir, n_centroids=4, n_iter=3)
    before = sorted(
        tuple(r)
        for r in ivf.ivf_read_cells(spark, index_dir).select("vec_id", "cid").collect()
    )
    v0 = mf.read_manifest(index_dir)["version"]
    with crash_before_commit(), pytest.raises(RuntimeError, match="injected crash"):
        ivf.ivf_index_delete(
            spark,
            index_dir,
            spark.createDataFrame([(i,) for i in range(0, 80, 3)], "vec_id bigint"),
        )
    assert mf.read_manifest(index_dir)["version"] == v0
    after = sorted(
        tuple(r)
        for r in ivf.ivf_read_cells(spark, index_dir).select("vec_id", "cid").collect()
    )
    assert after == before


def test_ts29_reset_contributes_post_reset_value(spark):
    """Counter 100 -> 250 -> 30 -> 80 within one day: increase must be
    150 (delta) + 30 (post-reset restart value) + 50 (delta) = 230,
    not last-first (-20) nor the raw delta sum (10)."""
    import datetime as dt

    from chronicle_sniffer_spark.plans.catalog import registry
    import chronicle_sniffer_spark.plans.round14 as r14

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(seconds=10 * i), 1, "ctr", v, "{}")
        for i, v in enumerate([100.0, 250.0, 30.0, 80.0])
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    orig = r14.load_table
    try:
        r14.load_table = lambda s, d, n: ev
        out = registry()["ts29_counter_rate"].spark_fn(spark, "x").collect()
    finally:
        r14.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r.n_samples == 4
    assert r.increase_cents == 23000
    assert r.span_us == 30_000_000
    assert r.rate_per_sec == 23000 / 30_000_000 * 1e6 / 100


def test_g14_adamic_adar_hand_graph(spark):
    """Hand graph: customer 10 links suppliers {1,2} (deg 2), customer
    20 links {1,2,3} (deg 3), customer 30 links {2,3} (deg 2).  Then
    AA(1,2) = 1/ln2 + 1/ln3, AA(2,3) = 1/ln3 + 1/ln2, AA(1,3) = 1/ln3
    — in exact integer picos from the baked table."""
    import math

    import chronicle_sniffer_spark.plans.round14 as r14
    from chronicle_sniffer_spark.plans.catalog import registry

    edges = [(1, 10), (2, 10), (1, 20), (2, 20), (3, 20), (2, 30), (3, 30)]
    li = spark.createDataFrame(
        [(i, s) for i, (s, _c) in enumerate(edges)],
        "l_orderkey bigint, l_suppkey bigint",
    )
    o = spark.createDataFrame(
        [(i, c) for i, (_s, c) in enumerate(edges)],
        "o_orderkey bigint, o_custkey bigint",
    )
    orig = r14.load_table
    try:
        r14.load_table = lambda sp, d, n: {"lineitem": li, "orders": o}[n]
        rows = {
            (r.s1, r.s2): r
            for r in registry()["g14_adamic_adar"].spark_fn(spark, "x").collect()
        }
    finally:
        r14.load_table = orig
    w2 = math.floor(1e12 / math.log(2))
    w3 = math.floor(1e12 / math.log(3))
    assert rows[(1, 2)].aa_picos == w2 + w3 and rows[(1, 2)].n_common == 2
    assert rows[(2, 3)].aa_picos == w3 + w2 and rows[(2, 3)].n_common == 2
    assert rows[(1, 3)].aa_picos == w3 and rows[(1, 3)].n_common == 1
    # ordering: AA(1,2) == AA(2,3) > AA(1,3); tie broken by (s1, s2)
    ordered = sorted(rows, key=lambda k: (-rows[k].aa_picos, k))
    assert ordered == [(1, 2), (2, 3), (1, 3)]


def test_s24_checkpoint_resume_processes_only_new_arrivals(spark, tmp_path):
    """File-arrival-driven semantics across RUNS: after an AvailableNow
    replay completes, a NEW container landing in the directory and a
    second replay against the SAME checkpoint must process only the
    new file (one additional commit, not a re-ingest), and the table
    must equal the batch path over the full directory."""
    import os
    import shutil

    from chronicle_sniffer_spark.sources.warc import _warc_dir
    from chronicle_sniffer_spark.sources import warc as w
    from chronicle_sniffer_spark.sources.warc import read_warc
    from chronicle_sniffer_spark.streaming import manifest as mf
    from chronicle_sniffer_spark.streaming.crawl import (
        gated_extract,
        read_crawl_table,
        stream_crawl_ingest,
    )

    src = _warc_dir(spark, "/root/testdata/sf0.001")
    wdir = str(tmp_path / "crawl")
    os.makedirs(wdir)
    names = sorted(
        p for p in os.listdir(src) if p.endswith(".warc.gz")
    )[:4]
    for p in names:
        shutil.copy(os.path.join(src, p), os.path.join(wdir, p))
    table = str(tmp_path / "tab")
    ckpt = str(tmp_path / "ckpt")
    stream_crawl_ingest(spark, wdir, table, ckpt, max_files_per_trigger=2)
    v0 = mf.read_manifest(table)["version"]
    n0 = read_crawl_table(spark, table).count()

    # a new container arrives: one fresh doc on a late grid id
    html = "<p>" + " ".join(["resume word stream"] * 40) + "</p>"
    with open(os.path.join(wdir, "part-late.warc.gz"), "wb") as f:
        f.write(w.warc_member(999983, html))
    stream_crawl_ingest(spark, wdir, table, ckpt, max_files_per_trigger=2)
    m = mf.read_manifest(table)
    # exactly ONE more commit (the new file), not a re-ingest of four
    assert m["version"] == v0 + 1
    got = sorted(
        (r.doc_id, r.n_tokens) for r in read_crawl_table(spark, table).collect()
    )
    want = sorted(
        (r.doc_id, r.n_tokens)
        for r in gated_extract(read_warc(spark, wdir)).collect()
    )
    assert got == want
    assert len(got) == n0 + 1  # the late doc passed the gate
