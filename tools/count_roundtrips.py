"""Noise-free py4j round-trip counter for catalog plan builds.

Counts synchronous Python->JVM round trips (py4j ``send_command``
invocations on the gateway client) during plan CONSTRUCTION
(``spec.spark_fn(spark, sf_dir)``), split by py4j command type —
reflection ('r'), call ('c'), memory/gc ('m'), other.  Round-trip
counts are deterministic for a given code path, so they are the
noise-free structural evidence this sandbox's ±20-50% ambient wall
drift cannot fake (see OPTIMIZATION_r14.md "Method").

Methodology matches bench.py's plan_build split: each entry's plan is
built twice and the SECOND build is reported (the first pays one-time
session/table staging).

The reflection column counts py4j's own lookups: py4j resolves every
``sc._jvm.<name>`` and static member with a round trip of its own on
each access, so one ``F.<fn>()`` call costs two reflection round trips
and one call.

Usage:
    python tools/count_roundtrips.py entry [entry ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COUNTS = {"reflection": 0, "call": 0, "memory": 0, "other": 0, "total": 0}


def _install_counter() -> None:
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command

    def counting_send_command(self, command, *args, **kwargs):
        COUNTS["total"] += 1
        head = command[0] if isinstance(command, str) and command else "?"
        if head == "r":
            COUNTS["reflection"] += 1
        elif head == "c":
            COUNTS["call"] += 1
        elif head == "m":
            COUNTS["memory"] += 1
        else:
            COUNTS["other"] += 1
        return orig(self, command, *args, **kwargs)

    GatewayClient.send_command = counting_send_command


def _snapshot() -> dict[str, int]:
    return dict(COUNTS)


def _delta(before: dict[str, int]) -> dict[str, int]:
    return {k: COUNTS[k] - before[k] for k in COUNTS}


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    _install_counter()

    from chronicle_sniffer_spark.plans import registry
    from chronicle_sniffer_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("count_roundtrips")
    reg = registry()
    reg["s1_parquet_count"].spark_fn(spark, sf_dir).collect()

    out = {"builds": {}}
    for name in names:
        reg[name].spark_fn(spark, sf_dir)  # build 1: staging + caches warm
        before = _snapshot()
        t0 = time.time()
        reg[name].spark_fn(spark, sf_dir)  # build 2: steady state, counted
        wall = time.time() - t0
        d = _delta(before)
        d["build_wall_sec"] = round(wall, 3)
        out["builds"][name] = d
        print(f"{name}: {d}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
