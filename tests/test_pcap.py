"""pcap decode (S4/R9): synthesized classic-pcap bytes → tshark-shaped
rows → UDM projection end-to-end.  Covers eth/ip/ipv6/arp/tcp/udp/icmp,
DNS query+answer, HTTP request, TLS ClientHello SNI, and a truncated
trailing record."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from chronicle_sniffer_spark.sources.pcap import decode_pcap_bytes, read_pcap
from chronicle_sniffer_spark.sources.pcap_synth import example_packets, pcap_bytes
from chronicle_sniffer_spark.udm import project_udm


def test_decode_pcap_bytes_layers():
    pkts = list(decode_pcap_bytes(pcap_bytes(example_packets())))
    assert len(pkts) == 7
    layers = [p["_source"]["layers"] for p in pkts]
    assert layers[0]["http"]["http.host"] == "www.test.it"
    assert layers[0]["http"]["http.request.full_uri"] == "http://www.test.it/index.html"
    assert layers[0]["http"]["http.user_agent"] == "curl/8.0"
    assert layers[0]["tcp"]["tcp.dstport"] == "80"
    assert layers[0]["frame"]["frame.time_utc"] == "Jun 10, 2025 13:14:15.123456"
    q = layers[1]["dns"]["Queries"]
    assert list(q.values())[0]["dns.qry.name"] == "example.com"
    assert layers[1]["dns"]["dns.flags_tree"]["dns.flags.response"] == "0"
    a = layers[2]["dns"]["Answers"]
    assert list(a.values())[0]["dns.resp.ttl"] == "300"
    assert layers[2]["dns"]["dns.flags_tree"]["dns.flags.response"] == "1"
    tls = layers[3]["tls"]["tls.record"]
    assert tls["tls.record.version"] == "0x0301"
    assert tls["tls.handshake"]["tls.handshake.version"] == "0x0303"
    assert tls["tls.handshake"]["tls.handshake.extensions_server_name"] == "secure.example.org"
    assert layers[4]["icmp"]["icmp.type"] == "8"
    assert layers[5]["arp"]["arp.src.proto_ipv4"] == "10.0.0.1"
    assert layers[5]["arp"]["arp.opcode"] == "1"
    assert layers[6]["ip"]["ip.ttl"] == "64"
    assert layers[6]["tcp"]["tcp.flags"] == "0x00000002"


def test_truncated_trailing_record_stops_cleanly():
    raw = pcap_bytes(example_packets())
    assert len(list(decode_pcap_bytes(raw[:-10]))) == 6  # last record dropped
    assert list(decode_pcap_bytes(b"\x00" * 30)) == []  # bad magic
    assert list(decode_pcap_bytes(raw[:20])) == []  # short header


def test_pcap_to_udm_end_to_end(spark, tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    raw = read_pcap(spark, d)
    udm = project_udm(raw, processing_time="2025-01-01T00:00:00.000000Z")
    rows = udm.select(
        F.col("event.metadata.event_type").alias("et"),
        F.col("event.principal.port").alias("pport"),
        F.col("event.metadata.event_timestamp").alias("ts"),
    ).collect()
    assert len(rows) == 7  # one in, one out
    types = [r.et for r in rows]
    assert types == [
        "NETWORK_HTTP",
        "NETWORK_DNS",
        "NETWORK_DNS",
        "NETWORK_SSL",
        "NETWORK_ICMP",
        "NETWORK_ARP",
        "NETWORK_CONNECTION",
    ]
    assert rows[0].pport == 49152
    # [:26] truncation parity with the reference (json2udm_cloud.py:31):
    # a 2-digit day leaves room for only 4 fraction digits
    assert rows[0].ts == "2025-06-10T13:14:15.123400Z"


def test_tshark_fidelity_mode(spark, tmp_path):
    """S4 fidelity path (processor_app.py:150-155): same pcap through a
    real tshark subprocess must classify identically to the native
    decoder.  Skips where the container ships no tshark."""
    import pytest

    from chronicle_sniffer_spark.sources.pcap import read_pcap_tshark, tshark_available

    if not tshark_available():
        pytest.skip("tshark not installed in this container")
    d = str(tmp_path)
    with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    udm = project_udm(
        read_pcap_tshark(spark, d), processing_time="2025-01-01T00:00:00.000000Z"
    )
    rows = udm.select(F.col("event.metadata.event_type").alias("et")).collect()
    assert len(rows) == 7
    assert rows[0].et in ("NETWORK_HTTP", "NETWORK_CONNECTION")


def test_python_datasource_partitioned_deterministic(spark):
    """The custom synth_packets Python Data Source reads
    partition-parallel (one task per declared input partition) and is
    deterministic across reads; row formulas match the closed-form
    oracle in s10_python_datasource."""
    import pyspark.sql.functions as F

    from chronicle_sniffer_spark.sources.packet_source import register

    register(spark)
    df = spark.read.format("synth_packets").option("n", 1000).option("parts", 4).load()
    assert df.count() == 1000
    pids = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert pids == 4
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, df.collect()))
    row0 = df.filter("pkt_id = 77").collect()[0]
    assert (row0.proto, row0.dst_port, row0.length) == ("udp", 1024 + 77, 64 + 77 * 31 % 1400)


def test_pcapng_decodes_identically_to_classic():
    """Same frames, same timestamps, two containers: the pcapng walk
    (SHB/IDB/EPB) must yield byte-identical packet dicts to the
    classic-pcap walk — in the spec-default microsecond resolution, an
    explicit nanosecond if_tsresol option, and a big-endian section."""
    from chronicle_sniffer_spark.sources.pcap import decode_pcapng_bytes
    from chronicle_sniffer_spark.sources.pcap_synth import pcapng_bytes

    pk = example_packets()
    classic = list(decode_pcap_bytes(pcap_bytes(pk)))
    assert list(decode_pcapng_bytes(pcapng_bytes(pk))) == classic
    assert list(decode_pcapng_bytes(pcapng_bytes(pk, tsresol=9))) == classic
    assert list(decode_pcapng_bytes(pcapng_bytes(pk, endian=">"))) == classic
    # millisecond resolution: micros truncate to the declared grid
    ng3 = list(decode_pcapng_bytes(pcapng_bytes(pk, tsresol=3)))
    ts = ng3[0]["_source"]["layers"]["frame"]["frame.time_utc"]
    assert ts == "Jun 10, 2025 13:14:15.123000"


def test_pcapng_spb_and_truncation():
    from chronicle_sniffer_spark.sources.pcap import decode_pcapng_bytes
    from chronicle_sniffer_spark.sources.pcap_synth import pcapng_bytes

    pk = example_packets()
    # Simple Packet Block: no timestamp -> epoch; frame still decodes
    spb = list(decode_pcapng_bytes(pcapng_bytes(pk[:2], trailing_spb=pk[0])))
    assert len(spb) == 3
    assert spb[-1]["_source"]["layers"]["frame"]["frame.time_utc"].startswith("Jan 1, 1970")
    assert spb[-1]["_source"]["layers"]["http"]["http.host"] == "www.test.it"
    # truncated trailing block drops cleanly (rotated partial files)
    raw = pcapng_bytes(pk)
    assert len(list(decode_pcapng_bytes(raw[:-10]))) == len(pk) - 1
    # a corrupt byte-order magic yields nothing rather than raising
    bad = raw[:8] + b"\xde\xad\xbe\xef" + raw[12:]
    assert list(decode_pcapng_bytes(bad)) == []


def test_unknown_magic_quarantines_one_error_row(spark, tmp_path):
    """A file matching neither capture magic must surface as exactly
    ONE quarantined error event — never silently decode to zero rows
    (the batch analogue of the reference 500-ing an unreadable file
    into retry/DLQ, processor_app.py:184-190)."""
    d = str(tmp_path)
    with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    with open(os.path.join(d, "garbage.pcap"), "wb") as f:
        f.write(b"\x00\x01\x02\x03" * 16)
    udm = project_udm(read_pcap(spark, d), processing_time="2025-01-01T00:00:00.000000Z")
    rows = udm.select("source_file", "is_error").collect()
    assert len(rows) == 8  # 7 packets + 1 file-level quarantine row
    bad = [r for r in rows if r.source_file.endswith("garbage.pcap")]
    assert len(bad) == 1 and bad[0].is_error


def test_mixed_container_directory_reads_both(spark, tmp_path):
    """One directory holding a classic .pcap and a .pcapng of the same
    frames: read_pcap decodes both (the reference's '.pcap*' wildcard
    contract, sniffer_entrypoint.sh:159-164)."""
    from chronicle_sniffer_spark.sources.pcap_synth import pcapng_bytes

    d = str(tmp_path)
    with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    with open(os.path.join(d, "capture_2.pcapng"), "wb") as f:
        f.write(pcapng_bytes(example_packets()))
    udm = project_udm(read_pcap(spark, d), processing_time="2025-01-01T00:00:00.000000Z")
    agg = udm.groupBy("event.metadata.event_type").count().collect()
    counts = {r[0]: r[1] for r in agg}
    assert counts["NETWORK_DNS"] == 4  # 2 per container
    assert counts["NETWORK_HTTP"] == 2
    assert sum(counts.values()) == 14


def test_tshark_fidelity_golden(spark, tmp_path):
    """Fidelity diff the native decoder against the tshark JSON shape
    WITHOUT needing a tshark binary: the recorded fixture
    tests/fixtures/tshark_fidelity_pcap.json carries the same 7 frames
    in the full public ``tshark -T json`` envelope — the
    _index/_type/_score wrapper, *_tree subtrees, expert-info objects,
    dns.count.*, raw-request-line keys, record/handshake bookkeeping:
    everything real tshark adds beyond the subset the reference reads
    (json2udm_cloud.py field accesses).  The fixture is hand-built to
    the public tshark JSON shape (this container ships no tshark to
    record from); where tshark exists, test_tshark_fidelity_mode runs
    the live subprocess too.  Byte-identical ``udm_json`` on every
    packet proves (a) the native decode is UDM-equivalent to a
    tshark-shaped document of the same capture and (b) the projection
    depends ONLY on the documented field subset — extra layers of
    unknown structure perturb nothing."""
    import json as _json

    fx = os.path.join(os.path.dirname(__file__), "fixtures", "tshark_fidelity_pcap.json")
    from chronicle_sniffer_spark.sources.json_source import read_tshark_json

    d = str(tmp_path)
    with open(os.path.join(d, "capture_1.pcap"), "wb") as f:
        f.write(pcap_bytes(example_packets()))
    proc = "2025-01-01T00:00:00.000000Z"
    native = project_udm(read_pcap(spark, d), proc).select("udm_json").collect()
    golden = project_udm(read_tshark_json(spark, fx), proc).select("udm_json").collect()
    nat = sorted(r[0] for r in native)
    gld = sorted(r[0] for r in golden)
    assert len(nat) == len(gld) == 7
    assert nat == gld
    # and the golden really is enriched (not a trivial identity copy)
    raw = _json.load(open(fx))
    assert raw[0]["_index"] == "packets-2025-06-10"
    assert "frame.time_epoch" in raw[0]["_source"]["layers"]["frame"]
