"""Round-12 additions: WARC crawl-container source (sources/warc.py).

The format invariants are tested against Python's own gzip/zlib (an
independent implementation of the member framing) plus hand-built
records — not against the reader's own code paths.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from chronicle_sniffer_spark.sources.warc import (
    read_warc,
    warc_member,
    write_warc,
)
from chronicle_sniffer_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def test_member_is_standalone_gzip_and_spec_shaped():
    """Each record is ONE complete gzip member whose decompressed form
    follows the WARC framing: version line, headers, blank line, an
    HTTP response content block of exactly Content-Length bytes, and
    the record terminator."""
    raw = gzip.decompress(warc_member(7, "<html>x</html>"))
    assert raw.startswith(b"WARC/1.0\r\n")
    head, _, rest = raw.partition(b"\r\n\r\n")
    hdr = dict(
        ln.split(b": ", 1) for ln in head.split(b"\r\n")[1:] if b": " in ln
    )
    assert hdr[b"WARC-Type"] == b"response"
    assert hdr[b"WARC-Target-URI"] == b"https://example.org/doc/7"
    clen = int(hdr[b"Content-Length"])
    content, term = rest[:clen], rest[clen:]
    assert term == b"\r\n\r\n"
    assert content.startswith(b"HTTP/1.1 200 OK\r\n")
    assert content.endswith(b"<html>x</html>")
    # deterministic: gzip mtime pinned, same input -> same bytes
    assert warc_member(7, "<html>x</html>") == gzip.compress(
        raw, mtime=0
    ) == warc_member(7, "<html>x</html>")


def test_roundtrip_through_container(spark, tmp_path):
    """write_warc → read_warc round-trips every doc (ids, URIs,
    payload bytes, charset-decoded text) THROUGH the realism mix:
    request/metadata/revisit records interleaved, chunked
    transfer-encoding on the CHUNKED_MOD grid, correctly-declared
    latin-1 and MIS-declared extra responses — with exact
    decode-damage counts."""
    from chronicle_sniffer_spark.sources.warc import (
        BMP_MOD,
        CHUNKED_MOD,
        L1_PREFIX,
        LATIN1_MOD,
        METADATA_MOD,
        MISDECLARED_ERRORS,
        MISDECLARED_MOD,
        REQUEST_MOD,
        REVISIT_MOD,
        WAV_MOD,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.concat(F.lit("<p>"), "text", F.lit("</p>")).alias("html")
    )
    out = str(tmp_path / "crawl")
    files = write_warc(docs, out, n_files=4)
    assert len(files) == 4 and all(f.endswith(".warc.gz") for f in files)
    rows = read_warc(spark, out).collect()
    want = {r.doc_id: r.html for r in docs.collect()}

    # main doc responses: payload bytes AND decoded text round-trip,
    # including the chunked-transfer docs (invisible after de-chunk)
    main = [
        r
        for r in rows
        if r.warc_type == "response" and "/doc/" in r.target_uri
    ]
    got = {
        int(r.target_uri.rsplit("/", 1)[1]): bytes(r.payload).decode()
        for r in main
    }
    assert got == want
    assert all(r.text == bytes(r.payload).decode() for r in main)
    assert all(r.decode_errors == 0 and r.http_status == 200 for r in main)
    assert any(int(r.target_uri.rsplit("/", 1)[1]) % CHUNKED_MOD == 0 for r in main)

    # the realism mix is present on its deterministic grids
    by_type = {}
    for r in rows:
        by_type.setdefault(r.warc_type, []).append(r)
    n_grid = lambda m: sum(1 for d in want if d % m == 0)  # noqa: E731
    assert len(by_type.get("request", [])) == n_grid(REQUEST_MOD)
    assert len(by_type.get("metadata", [])) == n_grid(METADATA_MOD)
    assert len(by_type.get("revisit", [])) == n_grid(REVISIT_MOD)
    assert all(r.http_status is None for r in by_type.get("request", []))

    # correctly-declared latin-1: exact text back, zero damage
    l1 = [r for r in rows if "/l1/" in r.target_uri]
    assert len(l1) == n_grid(LATIN1_MOD) and len(l1) > 0
    for r in l1:
        d = int(r.target_uri.rsplit("/", 1)[1])
        assert r.charset == "iso-8859-1"
        assert r.text == L1_PREFIX + want[d]
        assert r.decode_errors == 0
    # MIS-declared latin-1-as-utf-8: damage absorbed WITH the count
    bad = [r for r in rows if "/bad/" in r.target_uri]
    assert len(bad) == n_grid(MISDECLARED_MOD) and len(bad) > 0
    for r in bad:
        assert r.charset == "utf-8"
        assert r.decode_errors == MISDECLARED_ERRORS
        assert "�" in r.text

    # member indexes are contiguous per file from zero, over ALL
    # record types
    per_file = {}
    for r in rows:
        per_file.setdefault(r.file, []).append(r.member_idx)
    for idxs in per_file.values():
        assert sorted(idxs) == list(range(len(idxs)))
    # round-14 media members: payload bytes pass through untouched and
    # the charset decoder never runs on them (content-type gate)
    media = [r for r in rows if "/img/" in r.target_uri or "/aud/" in r.target_uri]
    assert len(media) == n_grid(BMP_MOD) + n_grid(WAV_MOD) and len(media) > 0
    for r in media:
        assert r.text is None and r.decode_errors == 0
        assert len(r.payload) > 0
    n_extras = sum(
        n_grid(m)
        for m in (
            REQUEST_MOD, METADATA_MOD, REVISIT_MOD, LATIN1_MOD,
            MISDECLARED_MOD, BMP_MOD, WAV_MOD,
        )
    )
    assert len(rows) == len(want) + n_extras


def test_corrupt_member_raises_loudly(spark, tmp_path):
    """A truncated/garbled member must raise, not silently drop
    records — a crawl pipeline has to account for every record."""
    out = str(tmp_path / "crawl")
    os.makedirs(out)
    good = warc_member(1, "<p>ok</p>")
    with open(os.path.join(out, "part-00000.warc.gz"), "wb") as f:
        f.write(good + b"\x1f\x8b\x00garbage-not-a-member")
    with pytest.raises(Exception, match="(?i)corrupt|error|invalid"):
        read_warc(spark, out).collect()


def test_write_is_deterministic_across_runs(spark, tmp_path):
    """Two independent writes of the same table produce byte-identical
    container files (sorted members, pinned gzip mtime) — retries and
    speculative tasks can never fork the fixture."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.substring("text", 1, 50).alias("html")
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    fa, fb = write_warc(docs, a, n_files=2), write_warc(docs, b, n_files=2)
    for pa, pb in zip(fa, fb):
        with open(pa, "rb") as f1, open(pb, "rb") as f2:
            assert f1.read() == f2.read(), (pa, pb)


def test_compaction_preserves_data_and_collapses_dirs(
    spark, tmp_path, crash_before_commit
):
    """compact_table: same rows before/after, one live commit dir
    after, time travel to the pre-compaction version intact, crash
    before the flip leaves readers on the old snapshot, and prune()
    reclaims the dead epoch dirs afterwards."""
    import os

    from pyspark.sql import functions as F

    from chronicle_sniffer_spark.streaming import manifest as mf
    from chronicle_sniffer_spark.streaming.incremental import (
        _read_table,
        compact_table,
        merge_batch,
    )

    table = str(tmp_path / "t")
    ev = load_table(spark, SF_SMOKE, "events")
    # later epochs touch only a few users (→ few buckets), so live
    # bucket paths really spread across multiple commit dirs
    merge_batch(spark, table, ev.filter(F.col("event_id") % 3 == 0), 0)
    merge_batch(spark, table, ev.filter(F.col("user_id") < 5), 1)
    merge_batch(spark, table, ev.filter(F.col("user_id").between(5, 9)), 2)
    rows = lambda df: sorted(  # noqa: E731
        (r.user_id, r.n_events, str(r.total_value)) for r in df.collect()
    )
    before = rows(_read_table(spark, table))
    v_before = mf.latest_version(table)
    dirs_before = len({e["path"] for e in mf.read_manifest(table)["buckets"].values()})
    assert dirs_before > 1, "fixture built only one commit dir — nothing to compact"

    # crash injection: the staged rewrite is invisible
    import pytest as _pytest

    with crash_before_commit(), _pytest.raises(RuntimeError, match="injected crash"):
        compact_table(spark, table)
    assert mf.latest_version(table) == v_before
    assert rows(_read_table(spark, table)) == before

    v_new = compact_table(spark, table)
    assert v_new == v_before + 1
    after_m = mf.read_manifest(table)
    assert len({e["path"] for e in after_m["buckets"].values()}) == 1
    assert rows(_read_table(spark, table)) == before
    # time travel: the pre-compaction version still reads identically
    assert rows(_read_table(spark, table, version=v_before)) == before
    # prune to the compacted tail: dead epoch dirs reclaimed, data intact
    removed = mf.prune(table, keep_last=1)
    assert any(r.startswith("data/commit=") for r in removed)
    assert rows(_read_table(spark, table)) == before
    live = {e["path"] for e in mf.read_manifest(table)["buckets"].values()}
    assert all(os.path.isdir(os.path.join(table, p)) for p in live)


@pytest.mark.parametrize("early_users", [None, 5])
def test_merge_after_compaction_applies_the_next_epoch(spark, tmp_path, early_users):
    """Compaction must not take the stream's next epoch: merge epochs
    0-2, compact, merge epoch 3, and the rollup equals the raw events
    of all four slices.  With the early slices limited to a few users,
    epoch 3 also touches buckets the compacted table lacks, so its
    staged directory must not be the live compacted one."""
    from chronicle_sniffer_spark.streaming.incremental import (
        _read_table,
        compact_table,
        merge_batch,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    early = F.lit(True) if early_users is None else F.col("user_id") < early_users
    slices = [(F.col("event_id") % 4 == e) & early for e in range(3)]
    slices.append(F.col("event_id") % 4 == 3)
    table = str(tmp_path / "t")
    for epoch in range(3):
        merge_batch(spark, table, ev.filter(slices[epoch]), epoch)
    compact_table(spark, table)
    merge_batch(spark, table, ev.filter(slices[3]), 3)

    want = (
        ev.filter(slices[0] | slices[1] | slices[2] | slices[3])
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total_value"),
        )
    )
    rows = lambda df: sorted(  # noqa: E731
        (r.user_id, r.n_events, str(r.total_value)) for r in df.collect()
    )
    assert rows(_read_table(spark, table)) == rows(want)


def test_canonical_url_edge_cases(spark):
    """canonical_url rules pinned on hand-written URLs: default-port
    strip is scheme-aware, non-default ports survive, root/empty paths
    and all-utm queries collapse cleanly, fragments vanish, params
    sort."""
    from chronicle_sniffer_spark.plans.round12 import canonical_url

    cases = [
        ("https://Example.COM:443/", "https://example.com"),
        ("http://a.b:80/x", "http://a.b/x"),
        ("http://a.b:8080/x", "http://a.b:8080/x"),  # non-default kept
        ("https://a.b:80/x", "https://a.b:80/x"),  # 80 is not https default
        ("https://a.b", "https://a.b"),
        ("https://a.b/?utm_source=x&utm_medium=y", "https://a.b"),
        ("https://a.b/p?z=1&a=2#frag", "https://a.b/p?a=2&z=1"),
        ("https://a.b//x///y/", "https://a.b/x/y"),
        ("https://a.b/p?a=2&&b=1", "https://a.b/p?a=2&b=1"),  # empty param
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(cases, "u string, want string").select(
        "u", "want", canonical_url(F.col("u")).alias("got")
    )
    for r in df.collect():
        assert r.got == r.want, (r.u, r.got, r.want)


def test_acf_matches_numpy_reference(spark):
    """ts23_acf vs an independent numpy Pearson over the same daily
    series (exact same pairing: lag-k on the rn-ordered sequence)."""
    import numpy as np

    from chronicle_sniffer_spark.plans.round12 import (
        ACF_MAX_LAG,
        ACF_MIN_PAIRS,
        ts23_acf,
    )

    got = {
        (r.user_id, r.lag): (r.n, r.acf)
        for r in ts23_acf(spark, SF_SMOKE).collect()
    }
    daily = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").alias("x"))
        .orderBy("user_id", "d")
        .collect()
    )
    series: dict[int, list[int]] = {}
    for r in daily:
        series.setdefault(r.user_id, []).append(r.x)
    want = {}
    for uid, xs in series.items():
        xs = np.array(xs, dtype=np.float64)
        for k in range(1, ACF_MAX_LAG + 1):
            if len(xs) <= k:
                continue
            a, b = xs[:-k], xs[k:]
            n = len(a)
            if n < ACF_MIN_PAIRS or a.std() == 0 or b.std() == 0:
                continue
            want[(uid, k)] = (n, float(np.corrcoef(a, b)[0, 1]))
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0]
        assert abs(got[key][1] - want[key][1]) < 1e-9, (key, got[key], want[key])


def test_g13_matches_bruteforce_sets(spark):
    """g13 top-k vs exact python set arithmetic over the bipartite
    edge list."""
    from itertools import combinations

    from chronicle_sniffer_spark.plans.round12 import (
        G13_TOPK,
        g13_common_neighbors,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .collect()
    )
    nbrs: dict[int, set] = {}
    for r in edges:
        nbrs.setdefault(r.s, set()).add(r.c)
    scored = []
    for s1, s2 in combinations(sorted(nbrs), 2):
        common = len(nbrs[s1] & nbrs[s2])
        if common:
            scored.append(
                (common / len(nbrs[s1] | nbrs[s2]), s1, s2, common)
            )
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(s1, s2, c, j) for j, s1, s2, c in scored[:G13_TOPK]]
    got = [
        (r.s1, r.s2, r.common, r.jaccard)
        for r in g13_common_neighbors(spark, SF_SMOKE).collect()
    ]
    assert [(a, b, c) for a, b, c, _ in got] == [(a, b, c) for a, b, c, _ in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) < 1e-12


def test_brier_murphy_identity(spark):
    """The decomposition must satisfy Murphy's identity
    brier = reliability − resolution + uncertainty (exact here because
    every sample in a bucket shares the identical forecast; the pico
    flooring bounds the residual at ~2·101/1e12/N)."""
    from chronicle_sniffer_spark.plans.round12 import ml25_brier_decomposition

    r = ml25_brier_decomposition(spark, SF_SMOKE).collect()[0]
    assert abs(r.brier - (r.reliability - r.resolution + r.uncertainty)) < 1e-6
    assert 0 <= r.uncertainty <= 0.25
    assert r.reliability >= 0 and r.resolution >= 0


def test_cdc_chunks_are_lossless_and_shift_resistant(spark):
    """The two properties that make CDC worth its name: (1) chunks
    concatenate back to the document exactly (a partition, not a
    sample); (2) after editing a PREFIX of the text, every chunk
    beyond the first boundary past the edit is byte-identical — a
    fixed-size chunker would shift every downstream block."""
    from chronicle_sniffer_spark.plans.round12 import CDC_MOD, CDC_TARGET

    def chunks_of(text: str) -> list[str]:
        n = len(text)
        cs = [
            i
            for i in range(4, n + 1)
            if (
                ord(text[i - 1]) + ord(text[i - 2]) + ord(text[i - 3])
                + ord(text[i - 4])
            ) % CDC_MOD == CDC_TARGET
        ]
        if not cs or cs[-1] != n:
            cs.append(n)
        out, prev = [], 0
        for c in cs:
            out.append(text[prev:c])
            prev = c
        return out

    doc = load_table(spark, SF_SMOKE, "documents").orderBy("doc_id").first().text
    parts = chunks_of(doc)
    assert "".join(parts) == doc
    assert len(parts) > 3, "doc too short for the property to mean anything"
    edited = "zq" + doc[1:]  # prefix edit, same length class
    parts2 = chunks_of(edited)
    # tail stability: chunks strictly after the edit's containing
    # chunk (+ window slack) coincide
    tail1 = parts[2:]
    assert any(
        parts2[i:] == tail1 for i in range(min(4, len(parts2)))
    ), (parts[:3], parts2[:3])
    # and the Spark pipeline agrees with this reference chunker on
    # total chunk count for the smoke corpus
    from chronicle_sniffer_spark.plans.round12 import l2_cdc_chunk_dedup

    got = l2_cdc_chunk_dedup(spark, SF_SMOKE).collect()[0]
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    want_chunks = sum(len(chunks_of(d.text)) for d in docs if len(d.text) >= 4)
    assert got.n_chunks == want_chunks


def test_cdc_chunker_non_ascii_codepoints(spark):
    """The numpy chunker's boundary codes are CODEPOINTS (utf-32
    decode — what Spark ascii()/Python ord return), not utf-8 bytes:
    a non-ASCII document must chunk identically to the pure-Python
    ord() reference, and the chunks must partition the text."""
    from chronicle_sniffer_spark.operators.chunking import make_cdc_chunker
    from chronicle_sniffer_spark.plans.round12 import CDC_MOD, CDC_TARGET

    text = ("naïve café résumé ✓ " * 40) + ("日本語テキストの境界も動く " * 20)

    def chunks_of(t: str) -> list[str]:
        n = len(t)
        cs = [
            i
            for i in range(4, n + 1)
            if (ord(t[i - 1]) + ord(t[i - 2]) + ord(t[i - 3]) + ord(t[i - 4]))
            % CDC_MOD
            == CDC_TARGET
        ]
        if not cs or cs[-1] != n:
            cs.append(n)
        out, prev = [], 0
        for c in cs:
            out.append(t[prev:c])
            prev = c
        return out

    want = chunks_of(text)
    assert len(want) > 5, "fixture text too short to exercise boundaries"
    df = spark.createDataFrame([(text,)], "text string")
    got = (
        df.select(make_cdc_chunker(CDC_MOD, CDC_TARGET)(F.col("text")).alias("c"))
        .first()
        .c
    )
    assert list(got) == want
    assert "".join(got) == text
