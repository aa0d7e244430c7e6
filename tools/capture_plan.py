"""Capture `.explain("formatted")` output for catalog queries.

Usage:  python tools/capture_plan.py <tag> query [query ...]

Writes plans/$CSS_PLAN_ROUND/<query>_<tag>.txt for each query
(tag: before/after; CSS_PLAN_ROUND defaults to r15).

Captures are normalised so that two captures of the same plan diff
empty, also from two processes or two checkouts: expression ids
(``#123``, ``#123L``), ``plan_id=`` and ``[id=#..]`` numbers become
``N``, and the checkout's own path becomes ``<repo>``.  The session
raises ``spark.sql.maxMetadataStringLength`` so scan metadata strings
(``DataFilters``, ``Location``) are never cut: the default cut of 100
characters falls at a place that moves with the ids' digit counts.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from chronicle_sniffer_spark.plans import registry  # noqa: E402
from chronicle_sniffer_spark.session import get_spark  # noqa: E402


def normalise(txt: str) -> str:
    txt = txt.replace(ROOT, "<repo>")
    txt = re.sub(r"\[id=#\d+\]", "[id=#N]", txt)
    txt = re.sub(r"plan_id=\d+", "plan_id=N", txt)
    return re.sub(r"#\d+(L?)", r"#N\1", txt)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", os.environ.get("CSS_PLAN_ROUND", "r15"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plan")
    spark.conf.set("spark.sql.maxMetadataStringLength", str(1 << 20))
    reg = registry()
    for name in names:
        df = reg[name].spark_fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(normalise(txt))
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
