"""UDM projection core — the engine's equivalent of the reference's
``convert_single_packet_to_udm`` (json2udm_cloud.py:91-317), expressed
as pure Catalyst column expressions (no Python UDFs in the hot path).

Input: DataFrame from :mod:`sources.json_source` with columns
``_source`` (VARIANT), ``_corrupt_record`` (string), ``source_file``.
Output columns:

- ``event``       nested struct (schemas.UDM_EVENT_SCHEMA)
- ``udm_json``    serialized ``{"event": ...}`` with null/empty
                  sections elided (ref clean_none_values, :266-291)
- ``event_ts``    typed TimestampType event timestamp
- ``event_type``  top-level classification string
- ``is_error``    true for PacketProcessingError quarantine events
                  (never dropped — one-in-one-out invariant, SURVEY
                  §2C.1); matches the reference's UDM_PACKET_ERRORS
                  counter, which counts only processing errors
                  (json2udm_cloud.py:340)
- ``is_malformed`` true for malformed-but-parsed packets (falsy
                  ``layers``; counted separately — the reference does
                  NOT include these in UDM_PACKET_ERRORS)
- ``source_file`` originating file

Semantics preserved (SURVEY §2C):
- classifier last-writer-wins: TLS > DNS > HTTP; ICMP/ARP only from
  the transport elif chain (:136,165,169,180,197,227)
- ARP overwrites eth-derived MACs/IPs, even with nulls (:149-151,172-175)
- DNS name/type zip is index-guarded; type key omitted when missing (:207)
- tls.record dict-or-list polymorphism; only the first record (:233-236)
- empty-section elision + `about` any-non-falsy filter (:266-291)
- injectable processing_time replaces datetime.now() (:28,42,106,300)
- per-packet error quarantine with int()/attribute-error parity,
  including Python's error message text and first-failure ordering
  (:296-317; ports :156-157,161-162, status :191, TTLs :215)

Performance: the hot path does NO ``schema_of_variant`` and NO
``to_json`` on well-formed rows.  ``layers`` is cast once to
``map<string, variant>`` (a shallow re-slice, not a deep walk); each
layer's raw sub-variant comes from one map lookup, and "is a
non-empty object" / "is a truthy non-dict" flags are derived from
shallow ``try_cast(... AS map<string, variant>)`` probes.  The deep
``schema_of_variant`` walks (needed only for Python-type error
message text) and ``to_json`` truthiness probes sit inside CASE
branches that short-circuit on the object-typed fast path, so they
evaluate only for the rare malformed/error rows.  (The round-1
version materialized ~25 unconditional schema walks per row; this
formulation benches ~3× faster on the B1 corpus.)

Code generation: the projection runs as three physical operators.
:func:`_parse` is one whole-stage codegen class, fused with the scan;
:func:`_ttl_islet` is the one interpreted Project (a single lambda
column); :func:`_build` is a second codegen class.  The islet is what
splits the generated code: inside one stage Spark inlines every
chained Project into one ``processNext`` method (a Project gets its
own method only when it reads each of its inputs at least twice), so
Project boundaries alone do not bound method size.  As one stage the
projection needed a method over Janino's 64 KB limit, and every sink
plan paid a failed compile and then ran interpreted.  The largest
generated methods are now 20,149 bytes (parse) and 16,958 bytes
(build, the JSON sink's plan), both still above HotSpot's 8,000-byte
JIT limit.  ``tests/test_udm_codegen.py`` runs every UDM sink with
codegen fallback off and bounds each sink stage's largest method at
32 KB.

Documented intent-over-literal deviations from the reference:
- frame number: the reference's ``get_nested_value(pkt,
  "_source.layers.frame.frame.number")`` can never resolve (tshark
  keys contain literal dots that a dot-split path walker cannot
  traverse, json2udm_cloud.py:54,101), so its descriptions always say
  "N/A".  We extract the actual ``frame.number``.
- SNI: the reference's ``get_nested_value(handshake_data,
  "tls.handshake.extensions_server_name")`` (:248) has the same
  dot-path flaw and always yields None; we read the field directly
  (declared intent per the UDM schema, SURVEY §1.3, and test/readme.md).
- error-event packet snippet: the reference embeds
  ``json.dumps(packet_data)`` (:305) preserving source key order; we
  embed the canonical minified sorted-key form (VARIANT serialization),
  same information, deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronicle_sniffer_spark.schemas import DNS_ANSWERS_DDL, DNS_QUERIES_DDL, LAYER_DDL

# JSON texts of Python-falsy scalars: '' , 0, 0.0, False, [], {}, None.
# A literal array rather than an IN list: array_contains generates one
# loop, an 8-item IN eight inlined compares at each of the ~15 probes.
_FALSY_JSON = "array('\"\"', '0', '0.0', '-0.0', 'false', '[]', '{}', 'null')"


def _falsy(variant: str) -> str:
    """SQL: the variant's JSON text is that of a Python-falsy value."""
    return f"array_contains({_FALSY_JSON}, to_json({variant}))"


_PRODUCT = "Wireshark TShark"
_PRODUCT_MALFORMED = "Wireshark TShark (Malformed)"
_PRODUCT_ERROR = "Wireshark TShark (PacketProcessingError)"
_VENDOR = "Wireshark"

_TS_FMT_MICRO = "MMM d, yyyy H:mm:ss.SSSSSS"
_TS_FMT_PLAIN = "MMM d, yyyy H:mm:ss"
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

_LAYERS = (*LAYER_DDL, "dns", "tls")

_PRINCIPAL_DDL = "struct<ip string, mac string, port int>"
_NETWORK_DDL = (
    "struct<ip_protocol_version int, transport_protocol string, tcp_flags string,"
    " icmp_type string, icmp_code string, application_protocol_data"
    " struct<http struct<host string, file_data string, method string, url string,"
    " user_agent string, status_code int>, dns struct<queries array<struct<name string,"
    " type string>>, answer_ttls array<int>, is_response boolean>,"
    " tls struct<record_version_protocol string, handshake_protocol_version string,"
    " server_name_indication string>>>"
)
_ABOUT_DDL = "array<struct<hostname string, url string>>"


def _pytype(sch_expr: str) -> str:
    """Python type name for the AttributeError message."""
    return (
        f"CASE WHEN {sch_expr} LIKE 'ARRAY%' THEN 'list'"
        f" WHEN {sch_expr} = 'STRING' THEN 'str'"
        f" WHEN {sch_expr} = 'BOOLEAN' THEN 'bool'"
        f" WHEN {sch_expr} IN ('TINYINT','SMALLINT','INT','BIGINT') THEN 'int'"
        f" WHEN {sch_expr} IN ('FLOAT','DOUBLE') OR {sch_expr} LIKE 'DECIMAL%' THEN 'float'"
        f" ELSE 'dict' END"
    )


def _attr_err(sch_expr: str) -> str:
    return f"concat('''', {_pytype(sch_expr)}, ''' object has no attribute ''get''')"


def _int_err(value_expr: str) -> str:
    return f"concat('invalid literal for int() with base 10: ''', {value_expr}, '''')"


def _truthy_str(value: str) -> str:
    """SQL: a Python-truthy string (non-NULL, non-empty)."""
    return f"({value} IS NOT NULL AND {value} != '')"


_MAPV = "map<string, variant>"

# Position of the DNS answer TTL check in Python's check order (ref
# :296-317; see _parse).  It is the only check the islet computes.
_ERR_TTL = 18


def _layers(df: DataFrame) -> DataFrame:
    """Materialize, once per row: the layers variant (as a shallow
    ``map<string, variant>``), each layer's raw sub-variant + typed
    struct + presence/badness flags, the DNS query/answer lists, and
    the first TLS record's fields.

    The object-shape probes are ``try_cast(v AS map<string,variant>)``
    — NULL for any non-object, ``{}`` for the empty object — which
    touch only the variant's top level.  No ``schema_of_variant`` (a
    deep recursive walk) runs here; schema text is computed lazily in
    the error branches of :func:`_parse` only.
    """
    out = df.withColumn("layers", F.expr("try_variant_get(_source, '$.layers')")).withColumn(
        "M_layers", F.expr(f"try_cast(layers AS {_MAPV})")
    )
    vcols = {f"V_{name}": F.expr(f"try_element_at(M_layers, '{name}')") for name in _LAYERS}
    out = out.withColumns(vcols)
    # Shape probes: map<string,STRING>, not map<string,variant> — the
    # cast is lenient (nested values serialize to their JSON text,
    # scalars coerce, {} -> empty map, non-object -> NULL), carries
    # identical is-object/is-empty information, and skips the
    # per-value VariantVal materialization that benchmarked as the
    # single most expensive stage-1 component.  Only dns/tls keep
    # variant-valued maps — their nested values feed further variant
    # extraction.
    cols: dict[str, Column] = {
        f"M_{name}": F.expr(
            f"try_cast(V_{name} AS {_MAPV if name in ('dns', 'tls') else 'map<string,string>'})"
        )
        for name in _LAYERS
    }
    for name, ddl in LAYER_DDL.items():
        cols[f"L_{name}"] = F.expr(f"try_cast(V_{name} AS {ddl})")
    out = out.withColumns(cols)

    flags: dict[str, Column] = {}
    for name in _LAYERS:
        m, v = f"M_{name}", f"V_{name}"
        # IS NOT NULL first: absent layer must yield FALSE, not NULL,
        # or negations in the elif-branch conditions go three-valued
        flags[f"P_{name}"] = F.expr(f"({m} IS NOT NULL AND size({m}) > 0)")
        # Python-truthy non-dict → AttributeError on .get; to_json only
        # evaluated on the rare non-object branch (short-circuit AND)
        flags[f"B_{name}"] = F.expr(f"({v} IS NOT NULL AND {m} IS NULL AND NOT {_falsy(v)})")
    out = out.withColumns(flags)
    truthy = {f"T_{name}": F.expr(f"P_{name} OR B_{name}") for name in _LAYERS}
    out = out.withColumns(truthy)

    return out.withColumns(
        {
            # map-key lookups traverse literal-dot keys the reference's
            # dot-split path walker never could (json2udm_cloud.py:54)
            "dns_queries": F.expr(
                f"try_cast(try_element_at(M_dns, 'Queries') AS {DNS_QUERIES_DDL})"
            ),
            "dns_answers": F.expr(
                f"try_cast(try_element_at(M_dns, 'Answers') AS {DNS_ANSWERS_DDL})"
            ),
            "V_flags_tree": F.expr("try_element_at(M_dns, 'dns.flags_tree')"),
            "V_tls_record": F.expr("try_element_at(M_tls, 'tls.record')"),
        }
    ).withColumns(
        {
            "M_flags_tree": F.expr(f"try_cast(V_flags_tree AS {_MAPV})"),
            # tls.record: dict OR list; only the FIRST record is analyzed
            # (SURVEY §2C.7; json2udm_cloud.py:233-236)
            "tls_rec": F.expr(
                f"CASE WHEN try_cast(V_tls_record AS {_MAPV}) IS NOT NULL THEN V_tls_record"
                f"     WHEN try_cast(V_tls_record AS array<variant>) IS NOT NULL"
                f"     THEN try_element_at(try_cast(V_tls_record AS array<variant>), 1)"
                f"     END"
            ),
        }
    ).withColumns(
        {
            "dns_response_flag": F.expr(
                "try_cast(try_element_at(M_flags_tree, 'dns.flags.response') AS string)"
            ),
            "M_tls_rec": F.expr(f"try_cast(tls_rec AS {_MAPV})"),
        }
    ).withColumns(
        {
            "tls_rec_version": F.expr(
                "try_cast(try_element_at(M_tls_rec, 'tls.record.version') AS string)"
            ),
            "V_tls_hs": F.expr("try_element_at(M_tls_rec, 'tls.handshake')"),
        }
    ).withColumns(
        {"M_tls_hs": F.expr(f"try_cast(V_tls_hs AS {_MAPV})")}
    ).withColumns(
        {
            "tls_hs_version": F.expr(
                "try_cast(try_element_at(M_tls_hs, 'tls.handshake.version') AS string)"
            ),
            "tls_sni": F.expr(
                "try_cast(try_element_at(M_tls_hs,"
                " 'tls.handshake.extensions_server_name') AS string)"
            ),
        }
    )


def _parse(df: DataFrame) -> DataFrame:
    """Codegen stage 1 (fused with the scan): everything read from the
    variant — layer probes and typed structs, the DNS arrays, the
    transport elif chain, the first failing error check other than the
    TTL one (``_err_at0``, with its message subject), the malformed
    flag, and the raw TTL list the islet reads."""
    out = _layers(df)

    # ---- dns arrays, codegen-safe (no lambdas) ---------------------------
    # Null-compaction via concat_ws/split: concat_ws skips NULL elements
    # and keeps empty strings, so split(concat_ws(S, arr), S) equals
    # filter(arr, v -> v IS NOT NULL) for every array whose values don't
    # contain the \x01 sentinel (tshark JSON emits printable DNS fields;
    # documented exactness caveat).  The all-dropped result '' is
    # disambiguated with array_max: NULL max means every element was
    # NULL (-> empty), a non-NULL max means a lone '' survived.
    sep = "\x01"

    def compact(raw_expr: str) -> str:
        joined = f"concat_ws('{sep}', {raw_expr})"
        return (
            f"CASE WHEN ({raw_expr}) IS NULL THEN NULL"
            f" WHEN {joined} != '' THEN split({joined}, '{sep}')"
            f" WHEN array_max({raw_expr}) IS NOT NULL THEN array('')"
            f" ELSE CAST(array() AS array<string>) END"
        )

    out = out.withColumns(
        {
            "q_names": F.expr(compact("map_values(dns_queries).`dns.qry.name`")),
            "q_types": F.expr(compact("map_values(dns_queries).`dns.qry.type`")),
            "a_ttls": F.expr(compact("map_values(dns_answers).`dns.resp.ttl`")),
            # the transport elif chain (ref :136,165,169,180,197,227)
            "_ipv6_br": F.expr("NOT T_ip AND P_ipv6"),
            "_udp_br": F.expr("NOT T_tcp AND P_udp"),
            "_icmp_br": F.expr("NOT T_tcp AND NOT T_udp AND P_icmp"),
            "_arp_br": F.expr("NOT T_tcp AND NOT T_udp AND NOT T_icmp AND P_arp"),
        }
    )

    # ---- error chain (ordered as Python executes; ref :296-317) ----------
    def int_fail(value: str) -> str:
        return f"{value} IS NOT NULL AND try_cast({value} AS int) IS NULL"

    def bad_dict(v: str, m: str) -> str:
        # a Python-truthy value that is not a dict: .get raises
        return f"{v} IS NOT NULL AND {m} IS NULL AND NOT {_falsy(v)}"

    http_code = "L_http.`http.response.code`"
    # A non-object _source implies layers IS NULL (path extraction on a
    # scalar yields NULL), so the guard keeps the shape probes off the
    # fast path entirely.
    src_bad = f"layers IS NULL AND {bad_dict('_source', f'try_cast(_source AS {_MAPV})')}"
    checks: list[tuple[str | None, str, str | None]] = [
        (src_bad, "V", "_source"),
        (bad_dict("layers", "M_layers"), "V", "layers"),
        ("B_frame", "V", "V_frame"),
        ("B_ip", "V", "V_ip"),
        ("NOT T_ip AND B_ipv6", "V", "V_ipv6"),
        ("B_eth", "V", "V_eth"),
        ("B_tcp", "V", "V_tcp"),
        (f"P_tcp AND {int_fail('L_tcp.`tcp.srcport`')}", "I", "L_tcp.`tcp.srcport`"),
        (f"P_tcp AND {int_fail('L_tcp.`tcp.dstport`')}", "I", "L_tcp.`tcp.dstport`"),
        ("NOT T_tcp AND B_udp", "V", "V_udp"),
        (f"_udp_br AND {int_fail('L_udp.`udp.srcport`')}", "I", "L_udp.`udp.srcport`"),
        (f"_udp_br AND {int_fail('L_udp.`udp.dstport`')}", "I", "L_udp.`udp.dstport`"),
        ("NOT T_tcp AND NOT T_udp AND B_icmp", "V", "V_icmp"),
        ("NOT T_tcp AND NOT T_udp AND NOT T_icmp AND B_arp", "V", "V_arp"),
        ("B_http", "V", "V_http"),
        (
            f"P_http AND {_truthy_str(http_code)} AND try_cast({http_code} AS int) IS NULL",
            "I",
            http_code,
        ),
        ("B_dns", "V", "V_dns"),
        (None, "TTL", None),
        (f"P_dns AND {bad_dict('V_flags_tree', 'M_flags_tree')}", "V", "V_flags_tree"),
        ("B_tls", "V", "V_tls"),
        (f"P_tls AND {bad_dict('V_tls_hs', 'M_tls_hs')}", "V", "V_tls_hs"),
    ]
    assert checks[_ERR_TTL - 1][1] == "TTL"
    err_at0 = "CASE WHEN _corrupt_record IS NOT NULL AND _source IS NULL THEN 0 "
    err_at0 += " ".join(
        f"WHEN {cond} THEN {i}" for i, (cond, _, _) in enumerate(checks, 1) if cond is not None
    )

    def subject(kind: str) -> str:
        arms = " ".join(
            f"WHEN {i} THEN {src}" for i, (_, k, src) in enumerate(checks, 1) if k == kind
        )
        return f"CASE _err_at0 {arms} END"

    return out.withColumns(
        {
            "_err_at0": F.expr(err_at0 + " END"),
            # malformed: layers falsy (absent / {} / falsy scalar); ref :103-111
            "_layers_falsy": F.expr(
                f"(layers IS NULL OR (M_layers IS NOT NULL AND size(M_layers) = 0)"
                f" OR (M_layers IS NULL AND {_falsy('layers')}))"
            ),
        }
    ).withColumns(
        {
            # the deep schema walk runs only for the failing subject
            "_err_schema": F.expr(f"schema_of_variant({subject('V')})"),
            "_err_int": F.expr(subject("I")),
            # the islet's input, in the Project right below it: every
            # answer's TTL, NULLs kept
            "_ttl_raw": F.expr("map_values(dns_answers).`dns.resp.ttl`"),
        }
    )


def _ttl_islet(df: DataFrame) -> DataFrame:
    """The ONE interpreted operator: "first DNS answer TTL that fails
    int()" needs a filter, and a higher-order-function lambda is a
    CodegenFallback expression that knocks its whole Project out of
    whole-stage codegen.  Its Project holds only this column; reading
    ``_ttl_raw`` twice keeps CollapseProject from folding the parse
    stage into it, and the ``_ttl_err_msg`` shield reads
    ``_ttl_err_raw`` twice, which keeps it from being folded up into
    the build stage.  So the islet is also the boundary between the
    two generated classes."""
    bad = "t -> t IS NOT NULL AND try_cast(t AS int) IS NULL"
    return df.withColumn(
        "_ttl_err_raw",
        F.expr(
            f"CASE WHEN P_dns AND exists(_ttl_raw, {bad})"
            f" THEN concat('invalid literal for int() with base 10: ''',"
            f"   filter(_ttl_raw, {bad})[0], '''')"
            f" END"
        ),
    ).withColumn(
        "_ttl_err_msg",
        F.expr("CASE WHEN _ttl_err_raw IS NOT NULL THEN _ttl_err_raw END"),
    )


def _build(df: DataFrame, processing_time: str) -> DataFrame:
    """Codegen stage 2: the UDM fields, the event sections, the error
    message and the event itself, from the parsed columns.  Written as
    SQL text: one ``F.expr`` is a fixed three py4j round trips (two
    reflection lookups and the call), where the same CASE built from
    Column calls costs at least that per call."""
    ts = "L_frame.`frame.time_utc`"
    frame_no = "L_frame.`frame.number`"
    proc_ts_typed = "to_timestamp(replace(_proc_ts, 'Z', ''))"

    def when(cond: str, value: str, otherwise: str | None = None) -> str:
        tail = f" ELSE {otherwise}" if otherwise is not None else ""
        return f"CASE WHEN {cond} THEN {value}{tail} END"

    def struct(**fields: str) -> str:
        return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"

    def guarded(present: str, value: str) -> str:
        # truthy-string guard (ref :179-192, :226-253): NULL unless the
        # layer is present and the value a non-empty string
        return when(f"{present} AND {_truthy_str(value)}", value)

    # ---- fields: every value the event reads more than once, once per row
    http = {
        "host": "L_http.`http.host`",
        "file_data": "L_http.`http.file_data`",
        "method": "L_http.`http.request.method`",
        "url": "L_http.`http.request.full_uri`",
        "user_agent": "L_http.`http.user_agent`",
    }
    http_code = "L_http.`http.response.code`"
    tls = {"rec": "tls_rec_version", "hs": "tls_hs_version", "sni": "tls_sni"}
    net = {
        "ip_protocol_version": "CAST(CASE WHEN P_ip THEN 4 WHEN _ipv6_br THEN 6 END AS int)",
        "transport_protocol": (
            "CASE WHEN P_tcp THEN 'TCP' WHEN _udp_br THEN 'UDP' WHEN _icmp_br THEN 'ICMP' END"
        ),
        "tcp_flags": when("P_tcp", "L_tcp.`tcp.flags`"),
        "icmp_type": when("_icmp_br", "L_icmp.`icmp.type`"),
        "icmp_code": when("_icmp_br", "L_icmp.`icmp.code`"),
    }

    def endpoint_field(arp: str, eth_or_ip: str) -> str:
        # ARP overwrites eth-derived MACs/IPs, even with nulls (SURVEY §2C.5)
        return when("_arp_br", f"L_arp.`{arp}`", eth_or_ip)

    def port(side: str) -> str:
        return (
            f"CASE WHEN P_tcp THEN try_cast(L_tcp.`tcp.{side}port` AS int)"
            f" WHEN _udp_br THEN try_cast(L_udp.`udp.{side}port` AS int) END"
        )

    fields = {
        "_proc_ts": F.lit(processing_time),
        "_err_at": F.expr(
            f"CASE WHEN _err_at0 < {_ERR_TTL} THEN _err_at0"
            f" WHEN _ttl_err_msg IS NOT NULL THEN {_ERR_TTL} ELSE _err_at0 END"
        ),
        # timestamp chain (ref convert_timestamp_robust, :19-46): the
        # [:26] truncation reproduces Python's quirk of capping the
        # fraction at whatever fits in 26 chars (4 digits for 2-digit days)
        "_parsed_ts": F.expr(
            f"coalesce(try_to_timestamp(substring({ts}, 1, 26), '{_TS_FMT_MICRO}'),"
            f" try_to_timestamp(trim(regexp_replace({ts},"
            f" ' (UTC|Central European Summer Time).*$', '')), '{_TS_FMT_PLAIN}'))"
        ),
        # classifier, last-writer-wins (SURVEY §2C.2)
        "_etype": F.expr(
            "CASE WHEN P_tls THEN 'NETWORK_SSL' WHEN P_dns THEN 'NETWORK_DNS'"
            " WHEN P_http THEN 'NETWORK_HTTP' WHEN _icmp_br THEN 'NETWORK_ICMP'"
            " WHEN _arp_br THEN 'NETWORK_ARP' ELSE 'NETWORK_CONNECTION' END"
        ),
        **{
            f"_{side}_ip": F.expr(
                endpoint_field(
                    f"arp.{side_arp}.proto_ipv4",
                    f"CASE WHEN P_ip THEN L_ip.`ip.{side_ip}`"
                    f" WHEN _ipv6_br THEN L_ipv6.`ipv6.{side_ip}` END",
                )
            )
            for side, side_arp, side_ip in (("p", "src", "src"), ("t", "dst", "dst"))
        },
        **{
            f"_{side}_mac": F.expr(
                endpoint_field(f"arp.{side_arp}.hw_mac", when("P_eth", f"L_eth.`eth.{side_arp}`"))
            )
            for side, side_arp in (("p", "src"), ("t", "dst"))
        },
        "_p_port": F.expr(port("src")),
        "_t_port": F.expr(port("dst")),
        **{f"_net_{k}": F.expr(v) for k, v in net.items()},
        **{f"_http_{k}": F.expr(guarded("P_http", v)) for k, v in http.items()},
        "_http_status": F.expr(
            when(f"P_http AND {_truthy_str(http_code)}", f"try_cast({http_code} AS int)")
        ),
        "_dns_q": F.expr("P_dns AND size(q_names) > 0"),
        "_dns_a": F.expr("P_dns AND size(a_ttls) > 0"),
        "_dns_r": F.expr("P_dns AND dns_response_flag IS NOT NULL"),
        **{f"_tls_{k}": F.expr(guarded("P_tls", v)) for k, v in tls.items()},
    }
    out = df.withColumns(fields)
    # each guarded field is NULL unless set, so "any field set" is the
    # section's non-empty flag
    out = out.withColumns(
        {
            "_http_ne": F.expr(
                f"P_http AND {_truthy_str(http_code)}"
                + "".join(f" OR _http_{k} IS NOT NULL" for k in http)
            ),
            "_dns_ne": F.expr("_dns_q OR _dns_a OR _dns_r"),
            "_tls_ne": F.expr(" OR ".join(f"_tls_{k} IS NOT NULL" for k in tls)),
        }
    )

    # ---- sections, one named column each ---------------------------------
    # arrays_zip pads the shorter side with NULLs and slice(.., 1,
    # size(q_names)) trims to the names' length — identical to the
    # reference's `if i < len(q_types)` guard, without a lambda.  try_cast
    # on an array applies per element (NULL on failure) — same as
    # transform(a_ttls, t -> try_cast(t AS int)), lambda-free.
    dns_info = struct(
        queries=when(
            "_dns_q",
            "CAST(slice(arrays_zip(q_names, q_types), 1, size(q_names))"
            " AS array<struct<name string, type string>>)",
        ),
        answer_ttls=when("_dns_a", "try_cast(a_ttls AS array<int>)"),
        is_response=when("_dns_r", "dns_response_flag = '1'"),
    )
    app_data = when(
        "_http_ne OR _dns_ne OR _tls_ne",
        struct(
            http=when(
                "_http_ne",
                struct(**{k: f"_http_{k}" for k in http}, status_code="_http_status"),
            ),
            dns=when("_dns_ne", dns_info),
            tls=when(
                "_tls_ne",
                struct(
                    record_version_protocol="_tls_rec",
                    handshake_protocol_version="_tls_hs",
                    server_name_indication="_tls_sni",
                ),
            ),
        ),
    )
    network = when(
        " OR ".join(f"_net_{k} IS NOT NULL" for k in net) + " OR _http_ne OR _dns_ne OR _tls_ne",
        struct(**{k: f"_net_{k}" for k in net}, application_protocol_data=app_data),
    )

    def endpoint(side: str) -> str:
        parts = {k: f"_{side}_{k}" for k in ("ip", "mac", "port")}
        return when(" OR ".join(f"{c} IS NOT NULL" for c in parts.values()), struct(**parts))

    # about, in append order: http host, http url, dns names, sni.  The
    # reference's final truthy filter (ref :283) drops ""-only items;
    # the http/tls entries are truthy-guarded at construction, so only
    # the dns names need the "" scrub — array_remove does it
    # lambda-free, and arrays_zip-with-empty + cast turns the names
    # into {hostname, url: NULL} structs without a transform.
    empty_about = f"CAST(array() AS {_ABOUT_DDL})"

    null_str = "CAST(NULL AS string)"

    def about_item(present: str, hostname: str, url: str) -> str:
        item = struct(hostname=hostname, url=url)
        return when(f"{present} IS NOT NULL", f"array({item})", empty_about)

    dns_names = when(
        "_dns_q",
        "CAST(arrays_zip(array_remove(q_names, ''), CAST(array() AS array<string>))"
        f" AS {_ABOUT_DDL})",
        empty_about,
    )
    about = (
        f"concat({about_item('_http_host', '_http_host', null_str)},"
        f" {about_item('_http_url', null_str, '_http_url')}, {dns_names},"
        f" {about_item('_tls_sni', '_tls_sni', null_str)})"
    )
    empty_map = "CAST(map() AS map<string,string>)"
    additional = (
        "map_concat("
        + when("P_ip AND L_ip.`ip.ttl` IS NOT NULL", "map('ip_ttl', L_ip.`ip.ttl`)", empty_map)
        + ", "
        + when(
            "_arp_br AND L_arp.`arp.opcode` IS NOT NULL",
            "map('arp_operation', L_arp.`arp.opcode`)",
            empty_map,
        )
        + ")"
    )
    corrupt_pytype = (
        "CASE WHEN left(ltrim(_corrupt_record), 1) = '\"' THEN 'str'"
        " WHEN left(ltrim(_corrupt_record), 1) = '[' THEN 'list'"
        " WHEN ltrim(_corrupt_record) IN ('true','false') THEN 'bool'"
        " WHEN ltrim(_corrupt_record) = 'null' THEN 'NoneType'"
        " WHEN _corrupt_record RLIKE '^\\\\s*-?[0-9]+\\\\s*$' THEN 'int'"
        " WHEN _corrupt_record RLIKE '^\\\\s*-?[0-9.eE+-]+\\\\s*$' THEN 'float'"
        " ELSE 'str' END"
    )

    def metadata(ts_sql: str, product: str, etype: str, desc: str) -> str:
        return struct(
            event_timestamp=ts_sql,
            product_name=f"'{product}'",
            vendor_name=f"'{_VENDOR}'",
            event_type=etype,
            description=desc,
        )

    event_ts_iso = when(
        f"{ts} IS NOT NULL AND {ts} != '' AND _parsed_ts IS NOT NULL",
        f'date_format(_parsed_ts, "{_ISO_FMT}")',
        "_proc_ts",
    )
    out = out.withColumns(
        {
            "_is_error": F.expr("_err_at IS NOT NULL"),
            "_is_malformed": F.expr("_err_at IS NULL AND _layers_falsy"),
            # the TTL check overrides a later check's subject, so it goes first
            "_error_msg": F.expr(
                f"CASE WHEN _err_at = 0"
                f" THEN concat('''', {corrupt_pytype}, ''' object has no attribute ''get''')"
                f" WHEN _err_at = {_ERR_TTL} THEN _ttl_err_msg"
                f" WHEN _err_schema IS NOT NULL THEN {_attr_err('_err_schema')}"
                f" WHEN _err_int IS NOT NULL THEN {_int_err('_err_int')} END"
            ),
            "_metadata": F.expr(
                metadata(
                    event_ts_iso,
                    _PRODUCT,
                    "_etype",
                    f"concat('Packet capture. Protocols: ',"
                    f" coalesce(L_frame.`frame.protocols`, 'N/A'), '. Frame No: ',"
                    f" coalesce({frame_no}, 'N/A'))",
                )
            ),
            "_principal": F.expr(endpoint("p")),
            "_target": F.expr(endpoint("t")),
            "_network": F.expr(network),
            "_about": F.expr(f"CASE WHEN size({about}) > 0 THEN {about} END"),
            "_additional": F.expr(f"CASE WHEN size({additional}) > 0 THEN {additional} END"),
        }
    )

    # ---- the three event shapes ------------------------------------------
    # snippet: canonical minified sorted-key packet JSON
    raw_pkt = "coalesce(to_json(named_struct('_source', _source)), _corrupt_record)"
    snippet = when(
        f"length({raw_pkt}) > 1000", f"concat(substring({raw_pkt}, 1, 1000), '...')", raw_pkt
    )
    no_sections = {
        "principal": f"CAST(NULL AS {_PRINCIPAL_DDL})",
        "target": f"CAST(NULL AS {_PRINCIPAL_DDL})",
        "network": f"CAST(NULL AS {_NETWORK_DDL})",
        "about": f"CAST(NULL AS {_ABOUT_DDL})",
    }
    error_event = struct(
        metadata=metadata(
            "_proc_ts",
            _PRODUCT_ERROR,
            "'NETWORK_EVENT_ERROR'",
            "concat('Error during UDM conversion for packet. Frame No: ',"
            f" coalesce({frame_no}, 'N/A (error state)'), '. Error: ', _error_msg)",
        ),
        **no_sections,
        additional="map_from_arrays(array('processing_error_message',"
        f" 'original_packet_data_snippet'), array(_error_msg, {snippet}))",
    )
    # malformed events carry ONLY metadata (ref :107-111)
    malformed_event = struct(
        metadata=metadata(
            "_proc_ts",
            _PRODUCT_MALFORMED,
            "'NETWORK_EVENT_UNKNOWN'",
            f"concat('Malformed packet data. Frame: ', coalesce({frame_no}, 'N/A'))",
        ),
        **no_sections,
        additional="CAST(NULL AS map<string,string>)",
    )
    sections = ("metadata", "principal", "target", "network", "about", "additional")
    normal_event = struct(**{n: f"_{n}" for n in sections})
    out = out.withColumns(
        {
            "event": F.expr(
                f"CASE WHEN _is_error THEN {error_event}"
                f" WHEN _is_malformed THEN {malformed_event} ELSE {normal_event} END"
            ),
            # classifier computed directly, NOT extracted back out of the
            # event struct (extraction would re-inline the whole struct)
            "event_type": F.expr(
                "CASE WHEN _is_error THEN 'NETWORK_EVENT_ERROR'"
                " WHEN _is_malformed THEN 'NETWORK_EVENT_UNKNOWN' ELSE _etype END"
            ),
            "event_ts": F.expr(
                when(
                    "_is_error OR _is_malformed",
                    proc_ts_typed,
                    f"coalesce(_parsed_ts, {proc_ts_typed})",
                )
            ),
        }
    )

    return out.select(
        "event",
        # Lazy under column pruning: plans that don't select udm_json
        # (the parquet table sink, the B1 bench) never pay to_json.
        F.expr("to_json(named_struct('event', event))").alias("udm_json"),
        "event_ts",
        "event_type",
        F.col("_is_error").alias("is_error"),
        F.col("_is_malformed").alias("is_malformed"),
        "source_file",
    )


def project_udm(df: DataFrame, processing_time: str) -> DataFrame:
    """Project raw packets to UDM events (one in → one out, always).

    ``processing_time`` is the injected deterministic stand-in for the
    reference's ``datetime.now()`` fallbacks (SURVEY §2C.4), as an
    ISO-8601 string like ``2025-01-01T00:00:00.000000Z``.
    """
    return _build(_ttl_islet(_parse(df)), processing_time)
