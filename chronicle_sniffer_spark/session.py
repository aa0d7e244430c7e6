"""SparkSession factory.

Local test posture is ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to also hold on a multi-executor cluster at 100 TB:

- AQE on (runtime join-strategy switch, partition coalescing, skew-join
  splitting) so plans adapt when stats at scale differ from estimates.
- ``spark.sql.shuffle.partitions`` sized to cores locally; AQE coalesces
  upward mis-sizing at larger scale.
- Arrow on for every pandas-UDF path (the engine's only Python hot paths
  are Arrow-batched).
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "chronicle_sniffer_spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # The UDM projection compiles to two large generated classes
        # (largest methods ~20 KB and ~17 KB, see udm.py); with 100+
        # catalog queries live in one session the default 100-entry
        # codegen cache evicts them and re-compilation (Janino, about a
        # second for classes that size) shows up as bimodal query
        # times.  Only successful compiles are cached: a class that
        # fails to compile is recompiled, and fails, on every plan.  A
        # large app serving many plans wants this high on a cluster too.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # PySpark's DataFrame-debugging feature wraps every DataFrame/
        # Column API call to capture the Python call site for error
        # messages; each wrapped call pays getActiveSession + a conf
        # read + an origin set/clear — ~5 synchronous py4j round trips
        # — plus a Python stack walk.  Plan CONSTRUCTION is driver-side
        # serial work a cluster cannot parallelize, and for this
        # catalog's large expression trees the capture measured ~45% of
        # build time (UDM projection build 1.63 s → 0.90 s, interleaved
        # A/B).  Production posture: errors lose the Python call-site
        # line, nothing else changes.  NOTE: pyspark caches this flag
        # ONCE PER PROCESS on the first wrapped call — a wrapped call
        # executed before this session exists pins the cached value
        # regardless of this conf, and getOrCreate() reusing a
        # pre-existing session silently ignores it.  Session-factory
        # refactors (e.g. multiple sessions per process) must not
        # assume the conf is re-read.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Scan-split sizing: the default 128 MB under-splits this
        # testbed's few-but-large files (a 600 MB sf1 lineitem scanned
        # as ~5 tasks on 32 cores); 16 MB yields ~core-count scan tasks
        # at sf1+ while leaving the tiny gate files at one task.  On a
        # real cluster this is the same knob you tune so scan tasks
        # saturate executors — row-group-aligned files split; single-
        # row-group files never do (see tools/make_scale_data.py).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Driver heap sizing (guide §5): this application retains a
        # large catalog of query plans, broadcast relations and codegen
        # classes in the driver for the life of the session.  At 8g the
        # old gen fills as the catalog executes and late-run plan
        # CONSTRUCTION inflates ~2x under GC pressure (measured across
        # full bench runs: last-segment plan_build sum 32.3 s at 8g vs
        # 15.1 s at 16g, per-entry wall median x0.87, the win GROWING
        # monotonically through the run — the GC signature, not ambient
        # noise).  16 GiB is modest for the 128 GiB testbed and is the
        # same sizing a production driver serving hundreds of live
        # plans at 100 TB needs; still env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Managed-table warehouse (bucketed-table demos) lives in /tmp,
        # never inside the repo working directory.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/css_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long nanos and convert in tables.load_table
        # (truncation to micros matches DuckDB's nanos handling exactly).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state store (SURVEY §4.4): streaming state (T3-T6, T9,
        # dedup) spills to local disk instead of living on the JVM heap —
        # the difference between a bounded and an unbounded memory
        # footprint when session/join state grows 100× on a real cluster.
        # Changelog checkpointing keeps commit cost proportional to the
        # delta, not the full store.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
