"""Session lifecycle and import hygiene.

Importing the package must leave py4j and the warnings filter alone: a
host that imports the catalog into its own process gets stock py4j
classes and no import-time warnings.  A stopped session can be followed
by a new one in the same process (the bench and perfbench rely on that
``stop()``/``get_spark()`` cycle), and ``load_table`` memoizes plans per
session and per path.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, *flags: str, env: dict[str, str] | None = None):
    out = subprocess.run(
        [sys.executable, *flags, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


_IMPORT_PROBE = """
import json
from chronicle_sniffer_spark import plans
from py4j import java_gateway as g

plans.registry()
patched = {
    f"{cls.__name__}.{attr}": getattr(cls, attr).__module__
    for cls, attr in (
        (g.JVMView, "__getattr__"),
        (g.JavaClass, "__getattr__"),
        (g.JavaPackage, "__getattr__"),
        (g.GatewayClient, "send_command"),
    )
}

def ours(name):
    return isinstance(name, str) and name.startswith("_css_")

classes = [c for c in vars(g).values() if isinstance(c, type)]
carried = sorted(
    f"{c.__name__}.{k}"
    for c in classes
    for k, v in vars(c).items()
    if ours(k) or any(map(ours, getattr(getattr(v, "__code__", None), "co_consts", ())))
)
print(json.dumps({"modules": patched, "carried": carried}))
"""


def test_import_patches_nothing():
    """Importing the package and building the registry, with every
    warning raised as an error, leaves py4j's gateway classes as py4j
    defines them: no method replaced, and no ``_css_``-prefixed state
    (the prefix a patch from this package would use) on any class or
    in any of its methods.  Run in a fresh interpreter: the suite's own
    process has long since imported everything."""
    report = json.loads(_run(_IMPORT_PROBE, "-W", "error").splitlines()[-1])
    assert report["modules"] == dict.fromkeys(report["modules"], "py4j.java_gateway")
    assert report["carried"] == []


def test_row_udf_eval_type_is_declared():
    """The row-at-a-time timestamp UDF declares its eval type rather
    than leaving PySpark to infer one from its ``str | None`` hint, which
    warns at import."""
    from pyspark.util import PythonEvalType

    from chronicle_sniffer_spark.functions.timestamps import parse_capture_ts_udf

    assert parse_capture_ts_udf.evalType == PythonEvalType.SQL_BATCHED_UDF


def test_load_table_memo_is_per_session_and_per_path(spark):
    """load_table memoizes the lazy PLAN per (session, sf_dir, table)
    — a warm spark.read.parquet costs ~100 ms that every plan build
    (and every timed bench rep) was re-paying.  The memo must return
    the same DataFrame object within a session, distinct plans for
    distinct sf_dirs, and the data must still come from the parquet
    (every action re-scans; nothing is persisted)."""
    from tests.conftest import SF_SMOKE
    from chronicle_sniffer_spark.tables import load_table

    a1 = load_table(spark, SF_SMOKE, "nation")
    a2 = load_table(spark, SF_SMOKE, "nation")
    assert a1 is a2
    b = load_table(spark, "/root/testdata/sf0.01", "nation")
    assert b is not a1
    assert a1.count() == 25 and b.count() == 25
    # and the memoized plan still evaluates per-action (no result pin)
    assert a1.filter("n_nationkey = 0").count() == 1


def test_get_spark_after_stop():
    """SparkSession.stop() keeps the JVM and gateway alive, and a second
    get_spark() in the same process builds and runs plans on them.  Run
    in a subprocess so the suite's session fixture is untouched."""
    code = (
        "from chronicle_sniffer_spark.session import get_spark\n"
        "from pyspark.sql import functions as F\n"
        "s1 = get_spark('restart-a')\n"
        "assert s1.range(1).select(F.lit(7).alias('x')).collect()[0].x == 7\n"
        "s1.stop()\n"
        "s2 = get_spark('restart-b')\n"
        "assert s2.range(1).select(F.lit(8).alias('x')).collect()[0].x == 8\n"
        "s2.stop()\n"
        "print('RESTART_OK')\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    assert "RESTART_OK" in _run(code, env=env)
