"""Property test (hypothesis): the one-in-one-out invariant
(SURVEY §2C.1) holds for ARBITRARY JSON packets — any mix of valid
layers, junk scalars, wrong-typed sections, and deep nesting must
yield exactly one UDM event per input element, each with a valid
event_type and non-null metadata.  Mirrors the reference's promise
that malformed packets become error events, never dropped rows
(json2udm_cloud.py:95-96,296-317)."""

from __future__ import annotations

import json
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chronicle_sniffer_spark.sources.json_source import read_tshark_json
from chronicle_sniffer_spark.udm import project_udm

VALID_TYPES = {
    "NETWORK_CONNECTION",
    "NETWORK_HTTP",
    "NETWORK_DNS",
    "NETWORK_SSL",
    "NETWORK_ICMP",
    "NETWORK_ARP",
    "NETWORK_EVENT_UNKNOWN",
    "NETWORK_EVENT_ERROR",
}

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=12),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=8), children, max_size=3),
    ),
    max_leaves=8,
)

layer_names = st.sampled_from(
    ["frame", "eth", "ip", "ipv6", "tcp", "udp", "icmp", "arp", "http", "dns", "tls", "junk"]
)

packets = st.one_of(
    # shaped packet: layers dict with arbitrary per-layer content
    st.dictionaries(layer_names, json_values, max_size=5).map(
        lambda layers: {"_source": {"layers": layers}}
    ),
    # malformed: _source missing/scalar/list, or extra junk
    st.fixed_dictionaries({"_source": json_values}),
    st.dictionaries(st.text(min_size=1, max_size=6), json_scalars, max_size=2),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=st.lists(packets, min_size=1, max_size=25))
def test_one_in_one_out_for_arbitrary_packets(spark, tmp_path_factory, batch):
    d = str(tmp_path_factory.mktemp("prop"))
    with open(os.path.join(d, "fuzz.json"), "w") as f:
        json.dump(batch, f)
    udm = project_udm(read_tshark_json(spark, d), "2025-01-01T00:00:00.000000Z")
    rows = udm.select("event_type", "udm_json").collect()
    assert len(rows) == len(batch)  # never drop, never duplicate
    for r in rows:
        assert r.event_type in VALID_TYPES
        ev = json.loads(r.udm_json)["event"]
        assert ev["metadata"]["event_timestamp"]
        assert ev["metadata"]["event_type"] == r.event_type
