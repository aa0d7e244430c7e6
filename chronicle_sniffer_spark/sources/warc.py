"""WARC (Web ARChive, ISO 28500) crawl-container source — the stage
UPSTREAM of the HTML → text extractor: 100 TB crawl corpora arrive as
``.warc.gz`` container files, not as a parquet column of pages.

Format facts used here (public spec + Common Crawl practice):

- a ``.warc.gz`` is a CONCATENATION of gzip members, ONE WARC record
  per member — so records decompress independently once member
  boundaries are known (the property Common Crawl's CDX offset
  indexes exploit);
- each record is ``WARC/1.0\\r\\n`` + named headers + blank line +
  a content block of exactly ``Content-Length`` bytes + ``\\r\\n\\r\\n``;
- a ``WARC-Type: response`` record's content block is a full HTTP
  response (status line + headers + blank line + payload); real
  archives also carry ``request``, ``metadata``, and ``revisit``
  records, and responses may arrive ``Transfer-Encoding: chunked``;
- several percent of a real crawl is NOT UTF-8 (latin-1, shift-jis,
  gbk, ...): the HTTP ``Content-Type`` charset parameter is the
  declared encoding, and it is sometimes WRONG.  Mis-decoding is a
  silent-corruption channel at 100 TB, so the decode here follows the
  p16 philosophy — absorb failures WITH counts, never silently: the
  ``text`` column is decoded per the declared charset and
  ``decode_errors`` counts every replacement event the decoder
  inserted (0 = clean decode; >0 = that many damaged spots feeding
  any downstream training-text consumer).

Scale shape — the s18 gzip lesson generalized: gzip members within
ONE file parse sequentially (each member's end is only known by
decompressing it), so the decode stage parallelizes ACROSS files —
exactly how a crawl arrives (Common Crawl ships ~64k WARC files per
snapshot, each ~1 GB, natural task granularity).  The decode itself
is cheap zlib inflation + header splits; the expensive per-record CPU
(HTML extraction, quality scoring) runs AFTER a spread(), fully
row-parallel.

Memory bounds, stated explicitly:

- ``binaryFile`` materializes ONE WHOLE container file per row, and
  Spark's binary column ceiling is 2 GiB — a ~1 GB Common Crawl file
  fits, but this read path cannot exceed that, and it holds one
  inflated file's records (a ~1 GB file inflates ~3-4×) per task at
  a time: the decoder yields ONE batch per FILE, never buffering a
  multi-file Arrow batch.
- the PRODUCTION read path for targeted access is the CDX offset
  index: (file, offset, length) triples map straight to independent
  member reads (every member is its own gzip stream), giving
  arbitrarily fine tasks and no whole-file materialization — same
  parse code, different slicing.  IMPLEMENTED here as
  :func:`build_cdx` (derive the index once, one walk per file) +
  :func:`read_warc_cdx` (seek/read ONLY the requested ranges;
  task input bytes = Σ requested lengths), exercised by the
  ``s22_cdx_offset_read`` catalog entry.

Reference analogue: R9 "container bytes → records" decode
(reference processor/processor_app.py:150-155 — pcap-side, same
shape crawl-side).  Fixture WARCs are synthesized deterministically
(gzip mtime=0, sorted members) from the documents table — testdata
ships no crawl containers.
"""

from __future__ import annotations

import codecs
import gzip
import os
import re
import threading
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from chronicle_sniffer_spark.operators.html import _pages
from chronicle_sniffer_spark.tables import session_memo, session_tmpdir

WARC_DATE = "2026-01-01T00:00:00Z"

WARC_SCHEMA = (
    "file string, member_idx int, warc_type string, record_id string,"
    " target_uri string, content_length bigint, http_status int,"
    " content_type string, charset string, payload binary,"
    " text string, decode_errors bigint"
)

# --- counted-replacement decode (the p16 philosophy) -----------------

# Thread-local replacement counter: the registered error handler is
# PROCESS-wide, so a shared mutable counter would misattribute or lose
# counts under any concurrent caller (driver-side use, parallel
# tests).  Each thread decodes against its own slot.
_ERR_STATE = threading.local()


def _count_replace(exc: UnicodeError):
    _ERR_STATE.n = getattr(_ERR_STATE, "n", 0) + 1
    return ("�", exc.end)


codecs.register_error("warc_count_replace", _count_replace)

_CHARSET_RE = re.compile(r"charset=[\"']?([A-Za-z0-9_.:-]+)", re.IGNORECASE)


def parse_charset(content_type: str | None) -> str | None:
    """Declared charset from an HTTP Content-Type value, or None."""
    if not content_type:
        return None
    m = _CHARSET_RE.search(content_type)
    return m.group(1).lower() if m else None


def decode_payload(payload: bytes, charset: str | None) -> tuple[str, int]:
    """Decode ``payload`` per the DECLARED charset (UTF-8 when absent
    or unknown — the HTML5 default for the crawl domain), returning
    (text, n_replacements).  Every undecodable span becomes ONE
    U+FFFD and ONE count — a mis-declared or binary-in-text payload
    is absorbed WITH an audit number, never silently.

    The declared name must resolve to a TEXT encoding: codecs.lookup
    also resolves byte-transform codecs (base64, hex, rot13, zlib —
    all matched by parse_charset's token regex), and bytes.decode on
    those raises LookupError('not a text encoding') — one adversarial
    Content-Type header must not crash the file's scan task, so
    non-text codecs fall back to utf-8 like unknown names do."""
    cs = charset or "utf-8"
    try:
        info = codecs.lookup(cs)
        if not getattr(info, "_is_text_encoding", True):
            cs = "utf-8"
    except LookupError:
        cs = "utf-8"
    _ERR_STATE.n = 0
    try:
        text = payload.decode(cs, "warc_count_replace")
    except LookupError:  # belt-and-braces: any residual non-text path
        _ERR_STATE.n = 0
        text = payload.decode("utf-8", "warc_count_replace")
    return text, _ERR_STATE.n


# --- fixture writer ---------------------------------------------------

# Deterministic fixture mix (doc_id predicates shared with the oracle
# side): real archives interleave request/metadata/revisit records
# with responses, deliver some responses chunked, and carry non-UTF-8
# payloads — correctly declared or not.
REQUEST_MOD = 50  # doc_id % 50 == 0 → a request record precedes the response
METADATA_MOD = 70  # … → a metadata record follows it
REVISIT_MOD = 90  # … → a revisit record follows it
CHUNKED_MOD = 60  # … → the MAIN response arrives Transfer-Encoding: chunked
LATIN1_MOD = 40  # … → extra /l1/ response: latin-1 bytes, correctly declared
MISDECLARED_MOD = 110  # … → extra /bad/ response: latin-1 bytes declared utf-8
# A real multimodal crawl serves images/audio out of the SAME
# containers as the pages (round-13 verdict #4): these grids add
# responses whose payloads are REAL encoded media — the exact bytes
# operators/multimodal.synthesize_media_encoded derives from doc_id,
# so decoded statistics stay closed-form for the DuckDB oracle.
BMP_MOD = 35  # … → extra /img/ response: 24-bit BMP, image/bmp
WAV_MOD = 55  # … → extra /aud/ response: PCM16 WAV square wave, audio/wav

# Non-ASCII latin-1 content for the extra records.  Decoded with the
# DECLARED iso-8859-1 it reads back exactly; decoded as utf-8 (the
# mis-declared class) it produces exactly MISDECLARED_ERRORS
# replacement events per record — derived at import from the same
# decoder that counts at read time, so the constant can never drift
# from the implementation (and the em dash, being outside latin-1's
# repertoire, would be dropped — every char here is latin-1).
L1_PREFIX = "café »déjà« ¡sección 7½! "


def _count_utf8_replacements(data: bytes) -> int:
    _ERR_STATE.n = 0
    data.decode("utf-8", "warc_count_replace")
    return _ERR_STATE.n


MISDECLARED_ERRORS = _count_utf8_replacements(L1_PREFIX.encode("latin-1"))


def _http_response(
    payload: bytes,
    content_type: str = "text/html; charset=utf-8",
    chunked: bool = False,
) -> bytes:
    if chunked:
        body = _chunk_encode(payload)
        head = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: " + content_type.encode("latin-1") + b"\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n"
        )
        return head + body
    return (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: " + content_type.encode("latin-1") + b"\r\n"
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n" + payload
    )


def _chunk_encode(payload: bytes, size: int = 512) -> bytes:
    out = bytearray()
    for i in range(0, len(payload), size):
        part = payload[i : i + size]
        out += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def _record(
    warc_type: str, record_id: str, target_uri: str, content: bytes
) -> bytes:
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: " + warc_type.encode() + b"\r\n"
        b"WARC-Record-ID: <" + record_id.encode() + b">\r\n"
        b"WARC-Date: " + WARC_DATE.encode() + b"\r\n"
        b"WARC-Target-URI: " + target_uri.encode() + b"\r\n"
        b"Content-Type: application/http;msgtype=response\r\n"
        b"Content-Length: " + str(len(content)).encode() + b"\r\n\r\n"
    )
    return gzip.compress(headers + content + b"\r\n\r\n", mtime=0)


def warc_member(doc_id: int, html: str) -> bytes:
    """The doc's main response record, as one gzip member.  Docs on
    the CHUNKED_MOD grid ship Transfer-Encoding: chunked — the
    DE-CHUNKED payload is byte-identical to the plain form, so the
    payload-md5 oracle exercises the de-chunker without knowing it."""
    payload = html.encode("utf-8")
    http = _http_response(payload, chunked=int(doc_id) % CHUNKED_MOD == 0)
    return _record(
        "response",
        f"urn:uuid:doc-{int(doc_id)}",
        f"https://example.org/doc/{int(doc_id)}",
        http,
    )


def _extra_members(doc_id: int, html: str) -> list[bytes]:
    """The realism mix around a doc's main response (deterministic
    doc_id grids; see the *_MOD constants)."""
    d = int(doc_id)
    out: list[bytes] = []
    if d % REQUEST_MOD == 0:
        req = (
            b"GET /doc/" + str(d).encode() + b" HTTP/1.1\r\n"
            b"Host: example.org\r\nUser-Agent: cs-crawler/1.0\r\n\r\n"
        )
        out.append(
            _record(
                "request", f"urn:uuid:req-{d}", f"https://example.org/doc/{d}", req
            )
        )
    if d % METADATA_MOD == 0:
        meta = b"fetchTimeMs: 12\r\ncharset-detected: utf-8\r\n"
        out.append(
            _record(
                "metadata", f"urn:uuid:meta-{d}", f"https://example.org/doc/{d}", meta
            )
        )
    if d % REVISIT_MOD == 0:
        out.append(
            _record(
                "revisit", f"urn:uuid:rev-{d}", f"https://example.org/doc/{d}", b""
            )
        )
    if d % LATIN1_MOD == 0:
        body = (L1_PREFIX + html).encode("latin-1", "ignore")
        out.append(
            _record(
                "response",
                f"urn:uuid:l1-{d}",
                f"https://example.org/l1/{d}",
                _http_response(body, "text/html; charset=iso-8859-1"),
            )
        )
    if d % MISDECLARED_MOD == 0:
        body = (L1_PREFIX + html).encode("latin-1", "ignore")
        out.append(
            _record(
                "response",
                f"urn:uuid:bad-{d}",
                f"https://example.org/bad/{d}",
                _http_response(body, "text/html; charset=utf-8"),
            )
        )
    if d % BMP_MOD == 0:
        out.append(
            _record(
                "response",
                f"urn:uuid:img-{d}",
                f"https://example.org/img/{d}",
                _http_response(_bmp_payload(d), "image/bmp"),
            )
        )
    if d % WAV_MOD == 0:
        out.append(
            _record(
                "response",
                f"urn:uuid:aud-{d}",
                f"https://example.org/aud/{d}",
                _http_response(_wav_payload(d), "audio/wav"),
            )
        )
    return out


def _bmp_payload(d: int) -> bytes:
    """Solid-color 24-bit BMP, dims/color from doc_id — the
    synthesize_media_encoded image formula verbatim, so channel means
    stay closed-form for the oracle."""
    import numpy as np

    from chronicle_sniffer_spark.operators.codecs import encode_bmp

    w, h = 16 + (d % 8) * 4, 16 + (d % 5) * 4
    color = np.array([d % 256, (d * 7) % 256, (d * 13) % 256], dtype=np.uint8)
    return encode_bmp(np.broadcast_to(color, (h, w, 3)).astype(np.uint8))


def _wav_payload(d: int) -> bytes:
    """PCM16 8 kHz square wave (alternating ±A) from doc_id — the
    synthesize_media_encoded audio formula verbatim: RMS is exactly A
    and mean exactly 0."""
    import numpy as np

    from chronicle_sniffer_spark.operators.codecs import encode_wav

    n, amp = 800 + (d % 5) * 400, 1000 + (d % 20) * 100
    s = np.empty(n, dtype=np.int16)
    s[0::2], s[1::2] = amp, -amp
    return encode_wav(s, 8000)


def write_warc(pages: DataFrame, out_dir: str, n_files: int = 8) -> list[str]:
    """Distributed fixture writer: hash the page table into
    ``n_files`` partitions, each task writing ONE ``.warc.gz`` of its
    docs (sorted by doc_id inside the file, gzip mtime pinned — the
    fixture is byte-deterministic).  Per doc: [request?] response
    [metadata?] [revisit?] [latin-1 extra?] [mis-declared extra?] in
    that order.  Returns the written paths."""
    import pyarrow  # noqa: F401 — mapInPandas prerequisite

    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        rows: list[tuple[int, str]] = []
        for pdf in batches:
            rows.extend(zip(pdf["doc_id"], pdf["html"]))
        if not rows:
            yield pd.DataFrame({"file": [], "n_records": []})
            return
        rows.sort()
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        n = 0
        with open(path, "wb") as f:
            for doc_id, html in rows:
                d = int(doc_id)
                members = _extra_members(d, html)
                # request precedes the response; the rest follow it
                pre = members[:1] if d % REQUEST_MOD == 0 else []
                post = members[1:] if d % REQUEST_MOD == 0 else members
                for m in pre:
                    f.write(m)
                f.write(warc_member(d, html))
                for m in post:
                    f.write(m)
                n += 1 + len(members)
        yield pd.DataFrame({"file": [path], "n_records": [n]})

    manifest = (
        pages.select("doc_id", "html")
        .repartition(n_files, "doc_id")
        .mapInPandas(_write, "file string, n_records bigint")
        .collect()
    )
    return sorted(r.file for r in manifest if r.file)


# --- reader -----------------------------------------------------------


def iter_members(data: bytes, path: str = "<buf>"):
    """Sequential gzip-member walk over a container's bytes, yielding
    ``(offset, consumed, decompressed_record)`` per member.

    Bounded-chunk feed: EVERY whole-tail formulation is
    O(members × file bytes) on a many-tiny-member file, because zlib
    materializes the unconsumed input as ``unused_data`` — including
    Python's own ``gzip.decompress`` (measured: 18.5 s for ONE
    9.5 MB / 15.6k-member file; the round-12 sf10 spot read 16–63×
    wall for 10× data across three formulations).  Feeding the
    decompressor zero-copy memoryview slices with an exponential ramp
    (8 KB first, ×8 up to 1 MB while a member continues) bounds the
    per-member overshoot copy at the first chunk size for tiny
    members while still streaming large ones — total copy volume is
    O(file bytes).  Unknown/truncated bytes raise loudly rather than
    silently skipping records."""
    mv = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        parts = []
        feed, step = pos, 8192
        while not d.eof and feed < n:
            parts.append(d.decompress(mv[feed : feed + step]))
            feed = min(feed + step, n)
            step = min(step * 8, 1 << 20)
        if not d.eof:
            raise ValueError(f"corrupt gzip member at {path}:{pos}")
        rec = b"".join(parts) + d.flush()
        consumed = (feed - pos) - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"corrupt gzip member at {path}:{pos}")
        yield pos, consumed, rec
        pos += consumed


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP chunked transfer-encoded body.  Raises on a
    malformed chunk frame — truncation must be loud, not a silently
    short payload."""
    out, pos = [], 0
    while True:
        j = body.index(b"\r\n", pos)
        size = int(body[pos:j].split(b";")[0], 16)
        pos = j + 2
        if size == 0:
            break
        out.append(body[pos : pos + size])
        if len(out[-1]) != size:
            raise ValueError("truncated chunk in chunked body")
        pos += size + 2
    return b"".join(out)


def _parse_record(raw: bytes) -> dict:
    """One decompressed WARC record → header fields + HTTP payload +
    charset-decoded text with a replacement count."""
    head, _, rest = raw.partition(b"\r\n\r\n")
    lines = head.split(b"\r\n")
    hdr = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        hdr[k.strip().lower()] = v.strip()
    clen = int(hdr.get(b"content-length", b"0"))
    content = rest[:clen]
    out = {
        "warc_type": hdr.get(b"warc-type", b"").decode(),
        "record_id": hdr.get(b"warc-record-id", b"").decode(),
        "target_uri": hdr.get(b"warc-target-uri", b"").decode(),
        "content_length": clen,
        "http_status": None,
        "content_type": None,
        "charset": None,
        "payload": b"",
        "text": None,
        "decode_errors": 0,
    }
    if out["warc_type"] == "response" and content.startswith(b"HTTP/"):
        hhead, _, body = content.partition(b"\r\n\r\n")
        hlines = hhead.split(b"\r\n")
        status_line = hlines[0].split(b" ")
        out["http_status"] = int(status_line[1]) if len(status_line) > 1 else None
        hh = {}
        for ln in hlines[1:]:
            k, _, v = ln.partition(b":")
            hh[k.strip().lower()] = v.strip()
        ctype = hh.get(b"content-type")
        out["content_type"] = ctype.decode("latin-1") if ctype else None
        out["charset"] = parse_charset(out["content_type"])
        te = hh.get(b"transfer-encoding", b"").decode("latin-1").lower()
        payload = _dechunk(body) if "chunked" in te else body
        out["payload"] = payload
        # charset-decode TEXTUAL responses only (text/*, or no declared
        # type — the HTML5 unknown default).  Running the replacement
        # decoder over an image/audio/binary payload would be wasted
        # per-byte CPU and meaningless mojibake with an enormous
        # damage count; media bytes pass through as payload for the
        # typed decoders downstream (s20_warc_image/audio_decode).
        main_type = (out["content_type"] or "text/").split(";")[0].strip().lower()
        if main_type.startswith("text/"):
            out["text"], out["decode_errors"] = decode_payload(
                payload, out["charset"]
            )
    else:
        out["payload"] = content
    return out


_COLUMNS = [
    "file",
    "member_idx",
    "warc_type",
    "record_id",
    "target_uri",
    "content_length",
    "http_status",
    "content_type",
    "charset",
    "payload",
    "text",
    "decode_errors",
]


def decode_members(files: DataFrame) -> DataFrame:
    """Container (path, content) rows → parsed WARC records: the
    per-file member split + record parse shared by the batch scan
    (:func:`read_warc`) and the streaming ingest
    (streaming/crawl.py — each micro-batch is exactly such a frame).
    Yields ONE Arrow batch per FILE so decode memory is bounded by one
    inflated container, not a whole multi-file input batch."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                out: list[dict] = []
                for idx, (pos, _consumed, rec) in enumerate(
                    iter_members(bytes(content), path)
                ):
                    parsed = _parse_record(rec)
                    parsed.update(file=path, member_idx=idx)
                    out.append(parsed)
                yield pd.DataFrame(out, columns=_COLUMNS)

    return files.select("path", "content").mapInPandas(_decode, WARC_SCHEMA)


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Crawl-container scan: binaryFile source → per-file member split
    (sequential zlib walk per file — the only order gzip admits —
    parallel ACROSS files) → parsed records.  Unknown/truncated bytes
    in a member boundary raise loudly rather than silently skipping
    records (a crawl pipeline must account for every record)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path_glob)
        .select("path", "content")
    )
    return decode_members(files)


CDX_SCHEMA = (
    "file string, member_idx int, offset bigint, length bigint,"
    " warc_type string, target_uri string"
)


def build_cdx(spark: SparkSession, path_glob: str) -> DataFrame:
    """Derive the CDX offset index — (file, offset, length) per
    member, plus the type/URI lookup keys — from the containers
    themselves (one sequential walk per file, parallel across files).
    A production crawler writes this alongside each container at
    crawl time (Common Crawl publishes cdx-*.gz exactly so); deriving
    it here once per fixture is the offline equivalent.  Only WARC
    headers are parsed for the keys; payloads are never decoded."""

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = []
                for idx, (pos, consumed, rec) in enumerate(
                    iter_members(bytes(content), path)
                ):
                    head = rec.split(b"\r\n\r\n", 1)[0]
                    hdr = {}
                    for ln in head.split(b"\r\n")[1:]:
                        k, _, v = ln.partition(b":")
                        hdr[k.strip().lower()] = v.strip()
                    rows.append(
                        {
                            "file": path,
                            "member_idx": idx,
                            "offset": pos,
                            "length": consumed,
                            "warc_type": hdr.get(b"warc-type", b"").decode(),
                            "target_uri": hdr.get(b"warc-target-uri", b"").decode(),
                        }
                    )
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "file",
                        "member_idx",
                        "offset",
                        "length",
                        "warc_type",
                        "target_uri",
                    ],
                )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path_glob)
        .select("path", "content")
    )
    return files.mapInPandas(_index, CDX_SCHEMA)


def read_warc_cdx(cdx: DataFrame) -> DataFrame:
    """The PRODUCTION targeted read path: given CDX rows (file,
    offset, length, ...), read ONLY those byte ranges — every member
    is its own gzip stream, so (offset, length) slices decompress
    independently.  No whole-file materialization (the binaryFile
    2 GiB ceiling never applies), no scan of unrequested members:
    task input bytes = Σ requested lengths.  Filters on the CDX frame
    ARE the member pruning — exactly how Common Crawl consumers fetch
    single pages from a 100 TB snapshot.  Local ``open()`` here; on a
    real cluster the same seek/read runs through the Hadoop FS client
    (or an object store's ranged GET)."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            # group by file so each file opens once, reads sorted ranges
            for path, grp in pdf.groupby("file", sort=False):
                from urllib.parse import unquote, urlparse

                parsed_url = urlparse(str(path))
                local = unquote(parsed_url.path) if parsed_url.scheme else str(path)
                with open(local, "rb") as f:
                    for _, row in grp.sort_values("offset").iterrows():
                        f.seek(int(row["offset"]))
                        blob = f.read(int(row["length"]))
                        walked = list(iter_members(blob, path))
                        if len(walked) != 1:
                            raise ValueError(
                                f"CDX range at {path}:{row['offset']} holds "
                                f"{len(walked)} members, expected 1"
                            )
                        parsed = _parse_record(walked[0][2])
                        parsed.update(file=path, member_idx=int(row["member_idx"]))
                        out.append(parsed)
            yield pd.DataFrame(out, columns=_COLUMNS)

    return cdx.mapInPandas(_fetch, WARC_SCHEMA)


def _warc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+sf) the synthetic crawl: the documents
    table rendered to the shared HTML fixture and packed into
    ``.warc.gz`` container files by the DISTRIBUTED writer (one gzip
    member per record, one file per partition — the Common Crawl
    layout at miniature scale)."""

    def build() -> str:
        out = session_tmpdir("css_warc_")
        # one container file per core: gzip members decode sequentially
        # WITHIN a file, so the file count IS the decode parallelism —
        # a real crawl ships tens of thousands of ~1 GB files for the
        # same reason (the s20 sf1 soak measured 7.2x at a pinned 8)
        n_files = spark.sparkContext.defaultParallelism
        write_warc(_pages(spark, sf_dir), out, n_files=n_files)
        return out

    return session_memo(spark, ("warc", os.path.abspath(sf_dir)), build)
