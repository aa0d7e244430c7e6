"""Seeded capture corpus: the same packets as tshark JSON and as pcap.

Each packet is drawn once from a seeded protocol mix (TCP/HTTP, DNS
query and response, TLS SNI, ICMP, ARP, IPv6) and written twice:

- as a tshark ``-T json`` element (``_source.layers``), and
- as a raw Ethernet frame built with ``sources.pcap_synth``, into a
  classic pcap or a pcapng file (alternating per file).

Three defects exist only in the JSON form, because a binary frame cannot
carry them:

- about 1% of packets carry a non-integer port or DNS answer TTL, which
  the projection quarantines as a ``PacketProcessingError`` event;
- some packets have no layers, which the projection marks malformed;
- one file per corpus is a root array cut short, which the reader turns
  into a single quarantined row.

The pcap corpus instead has one file whose last record is cut short; the
decoder drops that record.  Every file's expected UDM row, error and
malformed counts go into a ledger, which the workloads check outputs
against.
"""

from __future__ import annotations

import json
import os
import random
import struct
from dataclasses import dataclass

from chronicle_sniffer_spark.sources import pcap_synth as ps

KINDS = ("http", "dns_query", "dns_response", "tls", "icmp", "arp", "ipv6")
WEIGHTS = (30, 18, 14, 18, 8, 4, 8)
ERROR_SHARE = 0.01
NO_LAYERS_SHARE = 0.005
BASE_EPOCH = 1749561255  # Jun 10, 2025 13:14:15 UTC
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


@dataclass(frozen=True)
class FileLedger:
    """What one capture file must turn into."""

    name: str
    rows: int  # UDM rows, quarantined rows included
    errors: int  # PacketProcessingError events
    malformed: int  # events with no layers


@dataclass
class Packet:
    layers: dict | None  # tshark layers; None = packet without layers
    frame: bytes  # the same packet as an Ethernet frame
    error: bool = False


def _ts_text(sec: int, usec: int) -> str:
    import time

    t = time.gmtime(sec)
    return (
        f"{_MONTHS[t.tm_mon - 1]} {t.tm_mday}, {t.tm_year} "
        f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d}.{usec:06d}"
    )


def _ip6_bytes(text: str) -> bytes:
    import ipaddress

    return ipaddress.IPv6Address(text).packed


def _ipv6(src: str, dst: str, payload: bytes, next_header: int = 6) -> bytes:
    return (
        struct.pack("!IHBB", 0x60000000, len(payload), next_header, 64)
        + _ip6_bytes(src)
        + _ip6_bytes(dst)
        + payload
    )


def _host(rng: random.Random) -> str:
    return f"host{rng.randrange(200)}.example{rng.randrange(5)}.com"


def _packet(rng: random.Random, num: int, sec: int, usec: int) -> Packet:
    kind = rng.choices(KINDS, WEIGHTS)[0]
    frame = {
        "frame.number": str(num),
        "frame.time_utc": _ts_text(sec, usec),
    }
    mac_a = f"aa:bb:cc:00:{rng.randrange(256):02x}:{rng.randrange(256):02x}"
    mac_b = f"aa:bb:cc:01:{rng.randrange(256):02x}:{rng.randrange(256):02x}"
    ip_a = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    ip_b = f"192.0.2.{rng.randrange(1, 255)}"
    ttl = rng.choice((64, 128, 57, 120))
    sport = rng.randrange(1024, 65535)
    eth = {"eth.src": mac_a, "eth.dst": mac_b}
    ip = {"ip.src": ip_a, "ip.dst": ip_b, "ip.ttl": str(ttl)}
    eth_hdr = ps.eth(mac_a, mac_b)
    error = rng.random() < ERROR_SHARE

    if kind == "http":
        host = _host(rng)
        path = f"/p{rng.randrange(10_000)}"
        body = f"GET {path} HTTP/1.1\r\nHost: {host}\r\nUser-Agent: curl/8.0\r\n\r\n".encode()
        tcp = {"tcp.srcport": str(sport), "tcp.dstport": "80", "tcp.flags": "0x00000018"}
        if error:
            tcp["tcp.srcport"] = f"p{sport}"
        layers = {
            "eth": eth,
            "ip": ip,
            "tcp": tcp,
            "http": {
                "http.host": host,
                "http.request.method": "GET",
                "http.request.full_uri": f"http://{host}{path}",
                "http.user_agent": "curl/8.0",
            },
        }
        protocols = "eth:ethertype:ip:tcp:http"
        bytes_ = eth_hdr + ps.ipv4(ip_a, ip_b, 6, ps.tcp(sport, 80, body), ttl)
    elif kind in ("dns_query", "dns_response"):
        name = _host(rng)
        response = kind == "dns_response"
        src, dst = (ip_b, ip_a) if response else (ip_a, ip_b)
        ports = ("53", str(sport)) if response else (str(sport), "53")
        dns = {
            "Queries": {
                f"{name}: type A, class IN": {"dns.qry.name": name, "dns.qry.type": "1"}
            },
            "dns.flags_tree": {"dns.flags.response": "1" if response else "0"},
        }
        if response:
            rttl = rng.choice((60, 300, 3600))
            dns["Answers"] = {f"{name}: type A": {"dns.resp.ttl": str(rttl)}}
            if error:
                dns["Answers"][f"{name}: type A"]["dns.resp.ttl"] = f"{rttl}s"
            payload = ps.dns_response(name, rttl)
        else:
            payload = ps.dns_query(name)
            if error:
                ports = (f"p{sport}", "53")
        layers = {
            "eth": eth,
            "ip": {**ip, "ip.src": src, "ip.dst": dst},
            "udp": {"udp.srcport": ports[0], "udp.dstport": ports[1]},
            "dns": dns,
        }
        protocols = "eth:ethertype:ip:udp:dns"
        sp, dp = (53, sport) if response else (sport, 53)
        bytes_ = eth_hdr + ps.ipv4(src, dst, 17, ps.udp(sp, dp, payload), ttl)
    elif kind == "tls":
        sni = _host(rng)
        tcp = {"tcp.srcport": str(sport), "tcp.dstport": "443", "tcp.flags": "0x00000018"}
        if error:
            tcp["tcp.dstport"] = "https"
        layers = {
            "eth": eth,
            "ip": ip,
            "tcp": tcp,
            "tls": {
                "tls.record": {
                    "tls.record.version": "0x0301",
                    "tls.handshake": {
                        "tls.handshake.version": "0x0303",
                        "tls.handshake.extensions_server_name": sni,
                    },
                }
            },
        }
        protocols = "eth:ethertype:ip:tcp:tls"
        bytes_ = eth_hdr + ps.ipv4(ip_a, ip_b, 6, ps.tcp(sport, 443, ps.client_hello(sni)), ttl)
    elif kind == "icmp":
        itype = rng.choice((0, 8))
        layers = {"eth": eth, "ip": ip, "icmp": {"icmp.type": str(itype), "icmp.code": "0"}}
        protocols = "eth:ethertype:ip:icmp"
        error = False
        bytes_ = eth_hdr + ps.ipv4(ip_a, ip_b, 1, struct.pack("!BBHHH", itype, 0, 0, 1, 1), ttl)
    elif kind == "arp":
        layers = {
            "eth": {"eth.src": mac_a, "eth.dst": "ff:ff:ff:ff:ff:ff"},
            "arp": {
                "arp.opcode": "1",
                "arp.src.hw_mac": mac_a,
                "arp.src.proto_ipv4": ip_a,
                "arp.dst.hw_mac": "00:00:00:00:00:00",
                "arp.dst.proto_ipv4": ip_b,
            },
        }
        protocols = "eth:ethertype:arp"
        error = False
        bytes_ = (
            ps.eth(mac_a, "ff:ff:ff:ff:ff:ff", 0x0806)
            + struct.pack("!HHBBH", 1, 0x0800, 6, 4, 1)
            + bytes(int(x, 16) for x in mac_a.split(":"))
            + bytes(int(x) for x in ip_a.split("."))
            + b"\x00" * 6
            + bytes(int(x) for x in ip_b.split("."))
        )
    else:  # ipv6
        src6 = f"2001:db8::{rng.randrange(1, 0xFFFF):x}"
        dst6 = f"2001:db8:1::{rng.randrange(1, 0xFFFF):x}"
        tcp = {"tcp.srcport": str(sport), "tcp.dstport": "443", "tcp.flags": "0x00000002"}
        if error:
            tcp["tcp.srcport"] = f"{sport}.0"
        layers = {"eth": eth, "ipv6": {"ipv6.src": src6, "ipv6.dst": dst6}, "tcp": tcp}
        protocols = "eth:ethertype:ipv6:tcp"
        bytes_ = ps.eth(mac_a, mac_b, 0x86DD) + _ipv6(src6, dst6, ps.tcp(sport, 443, flags=0x002))

    frame["frame.protocols"] = protocols
    if rng.random() < NO_LAYERS_SHARE:
        return Packet(None, bytes_)
    return Packet({"frame": frame, **layers}, bytes_, error)


def _pcap(frames: list[bytes], stamps: list[tuple[int, int]]) -> bytes:
    out = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    for f, (sec, usec) in zip(frames, stamps):
        out += struct.pack("<IIII", sec, usec, len(f), len(f)) + f
    return out


@dataclass
class Corpus:
    """Paths and ledgers of one generated corpus."""

    json_files: dict[str, FileLedger]  # path -> ledger
    pcap_files: dict[str, FileLedger]

    def packets(self, kind: str) -> int:
        files = self.json_files if kind == "json" else self.pcap_files
        return sum(led.rows for led in files.values())


def file_sizes(rng: random.Random, n_files: int, total: int) -> list[int]:
    """Packets per file: sizes vary from about half to one and a half
    times the mean, but always add up to ``total``, so every seed gives
    the same amount of work."""
    weights = [rng.uniform(0.5, 1.5) for _ in range(n_files)]
    sizes = [int(total * w / sum(weights)) for w in weights]
    sizes[rng.randrange(n_files)] += total - sum(sizes)
    return sizes


def capture_files(rng: random.Random, n_files: int, total: int) -> list[list[Packet]]:
    """Draw ``n_files`` rotation-bounded captures of varying size,
    ``total`` packets in all."""
    files = []
    sec = BASE_EPOCH
    for n in file_sizes(rng, n_files, total):
        pkts = []
        for i in range(n):
            pkts.append(_packet(rng, i + 1, sec + i // 1000, (i * 997) % 1_000_000))
        sec += 1 + n // 1000
        files.append(pkts)
    return files


def write_json(path: str, pkts: list[Packet], truncate: bool = False) -> FileLedger:
    """One tshark-JSON root array; ``truncate`` cuts it mid-packet."""
    doc = [{"_source": {"layers": p.layers if p.layers is not None else {}}} for p in pkts]
    text = json.dumps(doc, separators=(",", ":"))
    name = os.path.basename(path)
    if truncate:
        text = text[: len(text) * 2 // 3]
        ledger = FileLedger(name, rows=1, errors=1, malformed=0)
    else:
        ledger = FileLedger(
            name,
            rows=len(pkts),
            errors=sum(p.error and p.layers is not None for p in pkts),
            malformed=sum(p.layers is None for p in pkts),
        )
    with open(path, "w") as fh:
        fh.write(text)
    return ledger


def write_pcap(path: str, pkts: list[Packet], ng: bool, truncate: bool = False) -> FileLedger:
    """The same packets as a pcap (or pcapng); ``truncate`` cuts the
    last record short, so the decoder drops it."""
    frames = [p.frame for p in pkts]
    stamps = [(BASE_EPOCH + i // 1000, (i * 997) % 1_000_000) for i in range(len(frames))]
    data = ps.pcapng_bytes(frames) if ng else _pcap(frames, stamps)
    if truncate:
        data = data[: len(data) - len(frames[-1]) // 2 - 4]
    with open(path, "wb") as fh:
        fh.write(data)
    return FileLedger(
        os.path.basename(path), rows=len(frames) - truncate, errors=0, malformed=0
    )


def make_corpus(
    seed: int,
    out_dir: str,
    n_files: int,
    total: int,
    formats: tuple[str, ...] = ("json",),
) -> Corpus:
    """Generate a corpus under ``out_dir/json`` and/or ``out_dir/pcap``.
    The same seed always gives the same bytes."""
    rng = random.Random(seed)
    files = capture_files(rng, n_files, total)
    bad = rng.randrange(n_files)
    corpus = Corpus({}, {})
    for kind in formats:
        os.makedirs(os.path.join(out_dir, kind), exist_ok=True)
    for i, pkts in enumerate(files):
        if "json" in formats:
            path = os.path.join(out_dir, "json", f"capture_{i:03d}.json")
            corpus.json_files[path] = write_json(path, pkts, truncate=i == bad)
        if "pcap" in formats:
            ng = i % 2 == 1
            path = os.path.join(out_dir, "pcap", f"capture_{i:03d}.{'pcapng' if ng else 'pcap'}")
            corpus.pcap_files[path] = write_pcap(path, pkts, ng, truncate=i == bad)
    return corpus
