"""Benchmark of record for chronicle_sniffer_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``workloads.py``) through the package's public
entry points on ``local[nproc]`` with the package's own session
defaults, checks every output against what the seeded generators
wrote, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the same work
runs with layer tracing on and the metrics are the per-layer ones.

Every file the run makes lives under ``.perfbench_work/`` in the
directory the command starts from, and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str, trace_dir: str | None) -> None:
    """Keep every file the JVM and Python workers write inside
    ``work``, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The package's default warehouse is outside the checkout.
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    submit = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
    if trace_dir:
        from tracing import event_log_args

        os.makedirs(trace_dir, exist_ok=True)
        submit += " " + event_log_args(trace_dir)
    env["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chronicle_sniffer_spark", "__init__.py")):
        print("perfbench: chronicle_sniffer_spark is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        _environment(work, trace_dir)
        result = workloads.run(
            args.workload, args.seed, args.seconds, work, trace_dir
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
