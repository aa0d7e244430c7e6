"""Scale soak: measure per-query wall ratios sf1 / sf0.1.

The correctness gate and bench stop at sf0.1 (~600k lineitem rows);
the design target is a 1000-executor cluster on 100 TB.  This tool
provides the first MEASURED evidence above sf0.1: it generates the
FK-consistent sf1 replica set (tools/make_scale_data.py, ~6M lineitem
rows = 10x data), runs catalog entries at both SFs on the same
session, and records per-query walls and the sf1/sf0.1 ratio.

Reading the ratios: 10x data through a scan+shuffle pipeline should
cost ~10x (near-linear); sorts and window ranks may add an n·log n
factor; anything far above that signals a plan that would not survive
the next 100x (the round-4 verdict's acceptance bar is <= ~12x with
outliers explained).  The brute-force all-pairs oracle baseline
(l2_embedding_near_dup) is excluded BY DESIGN: it is O(N^2) by
definition and scope-guarded as an oracle, not a scale path — its
scale paths (LSH and IVF ANN) are soaked instead.

Usage: python tools/scale_soak.py [out_json] [query ...]
(default SCALE_r10.json next to the repo root; prints one JSON line,
bench.py style).  With query names, runs a FOCUSED soak of just those;
without, re-soaks every entry out_json already records (every registry
entry when out_json does not exist yet).  Rows MERGE into out_json,
recomputing the median/max — so late-round entries get scale evidence
without re-timing the whole set.  The per-entry explanations of
super-linear ratios (BASELINE.md §3) live in scale_outlier_notes.json
and are merged over out_json's own notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronicle_sniffer_spark.plans import registry
from chronicle_sniffer_spark.session import get_spark
from tools.make_scale_data import make_scale_data

SF01_DIR = "/root/testdata/sf0.1"
NOTES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scale_outlier_notes.json")


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_r10.json"
    )
    prev: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            prev = json.load(fh)
    results: dict[str, dict] = prev.get("queries", {})
    notes: dict[str, str] = prev.get("outlier_notes", {})
    with open(NOTES_PATH) as fh:
        notes.update(json.load(fh))
    sf1_dir = make_scale_data()
    spark = get_spark("scale-soak")
    reg = registry()
    names = sys.argv[2:] or list(results) or list(reg)

    def run(name: str, sf_dir: str) -> None:
        reg[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in names:
        row: dict = {}
        for sf_dir, key in ((SF01_DIR, "sf0.1"), (sf1_dir, "sf1")):
            run(name, sf_dir)  # warm: codegen compile + JIT
            # MIN of two timed runs: a 69-query session accumulates
            # GC/python-worker churn that can inflate ONE run 5-10x
            # (round-6: a 13.5 s video-decode spike vs 1.8 s in a
            # fresh session); the min is the reproducible wall
            walls = []
            for _ in range(2):
                t0 = time.time()
                run(name, sf_dir)
                walls.append(time.time() - t0)
            row[key] = round(min(walls), 3)
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2) if row["sf0.1"] > 0 else None
        results[name] = row
        print(f"{name}: sf0.1={row['sf0.1']}s sf1={row['sf1']}s ratio={row['ratio']}x",
              file=sys.stderr)

    ratios = [r["ratio"] for r in results.values() if r["ratio"]]
    ratios.sort()
    summary = {
        "metric": "scale_soak_sf1_over_sf01",
        "unit": "ratio",
        "data_factor": 10,
        "value": ratios[len(ratios) // 2],  # median ratio
        "max_ratio": max(ratios),
        "queries": results,
        "sf1_rows": {"lineitem": 6_000_000, "documents": 50_000, "embeddings": 20_000},
        "outlier_notes": notes,
    }
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
