"""Isolated per-query timing, mirroring bench.py's methodology.

Usage:  python tools/profile_query.py [--reps N] query [query ...]

Fresh session, the bench's warm-twice-then-time discipline and noop
sink, median of N timed reps (default 3) so before/after comparisons
for a single entry are not at the mercy of full-bench drift.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronicle_sniffer_spark.plans import registry  # noqa: E402
from chronicle_sniffer_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_query")
    reg = registry()

    def run(name: str) -> None:
        reg[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in args:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        run(name)
        run(name)
        samples = []
        for _ in range(reps):
            t0 = time.time()
            run(name)
            samples.append(time.time() - t0)
        print(
            f"PROFILE {name}: median={statistics.median(samples):.3f}s "
            f"samples={[round(s, 3) for s in samples]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
