"""The benchmark's workloads, run through the package's public entry
points: ``session.get_spark``, ``sources.json_source``, ``udm``,
``etl``, ``streaming.udm_pipeline.run_udm_stream`` and
``plans.registry``.

Each workload stages its seeded inputs, makes one untimed warm pass,
measures for ``seconds``, then checks every output it produced.  A run
reports the end-to-end metrics (``END_TO_END``) or, traced, the
per-layer metrics (``PER_LAYER``).  A layer the workload does not call
reads 0.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections import Counter

import captures
import sfdata
import tracing

PROC_TIME = "2025-09-05T12:00:00.000000Z"

END_TO_END = ("setup_s", "latency_p50_s", "latency_p90_s", "throughput_per_s")

PER_LAYER = (
    "session.start_s",
    "session.jvm_peak_rss_mb",
    "sources.decode_s",
    "sources.pcap_decode_s",
    "sources.scan_passes",
    "udm.project_s",
    "udm.build_s",
    "udm.build_py4j_calls",
    "etl.parquet_s",
    "etl.json_per_file_s",
    "etl.json_concat_s",
    "etl.metrics_s",
    "etl.jobs",
    "streaming.call_s",
    "streaming.epochs_per_call",
    "streaming.files_per_epoch",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms",
    "streaming.trigger_ms",
    "bench.traced_latency_p50_s",
    "plans.build_s",
    "plans.build_py4j_calls",
    "plans.eager_jobs",
    "tables.load_calls",
    "tables.memo_hit_ratio",
    "catalyst.planning_s",
    "exec.sql_wall_s",
    "exec.task_cpu_s",
    "exec.task_run_s",
    "exec.gc_s",
    "exec.deser_s",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.output_bytes",
    "exec.tasks",
)


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """State shared by the workloads: seed, directories, session, tracer."""

    def __init__(self, seed: int, work: str, traced: bool):
        self.seed = seed
        self.work = work
        self.tracer = tracing.Tracer(enabled=traced)
        self.spark = None
        self.jvm = None
        self.start_s = 0.0
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        from chronicle_sniffer_spark.session import get_spark

        if self.tracer.enabled:
            self.tracer.count_py4j()
        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.spark.range(1).collect()
        self.start_s = time.time() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()

    def op(self, name: str):
        """Context for one benchmark operation: its own job group."""
        return _Op(self, name)


class _Op:
    def __init__(self, run: Run, name: str):
        self.run, self.name = run, name

    def __enter__(self):
        self.run.tracer.begin_op(self.run.spark, self.name)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.run.tracer.end_op(self.run.spark)


def exec_layers(ops: list[tracing.OpStats]) -> dict[str, float]:
    """Median per operation of the engine's work, from the event log."""
    return {
        "exec.sql_wall_s": median(sum(e - s for s, e in o.sql) for o in ops),
        "exec.task_cpu_s": median(o.cpu_s for o in ops),
        "exec.task_run_s": median(o.run_s for o in ops),
        "exec.gc_s": median(o.gc_s for o in ops),
        "exec.deser_s": median(o.deser_s for o in ops),
        "exec.shuffle_read_bytes": median(o.shuffle_read_bytes for o in ops),
        "exec.shuffle_write_bytes": median(o.shuffle_write_bytes for o in ops),
        "exec.spill_bytes": median(o.spill_bytes for o in ops),
        "exec.output_bytes": median(o.output_bytes for o in ops),
        "exec.tasks": median(o.tasks for o in ops),
    }


def _read_parquet_dir(path: str, columns: list[str]) -> dict[str, list]:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return {c: [] for c in columns}
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pydict()


def _basename(uri: str) -> str:
    return uri.rstrip("/").rsplit("/", 1)[-1]


def check_udm_rows(events_dir: str, ledgers: dict[str, captures.FileLedger]) -> set[str]:
    """Files whose UDM rows disagree with the ledger (row, error and
    malformed counts per source file)."""
    t = _read_parquet_dir(events_dir, ["source_file", "is_error", "is_malformed"])
    got: Counter = Counter()
    for f, err, bad in zip(t["source_file"], t["is_error"], t["is_malformed"]):
        name = _basename(f)
        got[(name, "rows")] += 1
        got[(name, "errors")] += bool(err)
        got[(name, "malformed")] += bool(bad)
    return {
        n
        for n, led in ledgers.items()
        if (got[(n, "rows")], got[(n, "errors")], got[(n, "malformed")])
        != (led.rows, led.errors, led.malformed)
    }


def check_file_metrics(metrics_dir: str, ledgers: dict[str, captures.FileLedger]) -> set[str]:
    """Files without exactly one metrics row equal to the ledger."""
    t = _read_parquet_dir(
        metrics_dir,
        ["file", "processed_packet_count", "error_event_count", "malformed_event_count"],
    )
    rows: dict[str, list[tuple]] = {}
    for f, n, e, m in zip(
        t["file"], t["processed_packet_count"], t["error_event_count"], t["malformed_event_count"]
    ):
        rows.setdefault(f, []).append((n, e, m))
    return {
        n
        for n, led in ledgers.items()
        if rows.get(n) != [(led.rows, led.errors, led.malformed)]
    }


# ---------------------------------------------------------------------------
# ingest_json: the batch ETL of etl.main over a capture directory
# ---------------------------------------------------------------------------


class IngestJson:
    """Closed loop, one client: the batch ETL exactly as ``etl.main``
    runs it, repeated over the same seeded capture directory."""

    N_FILES, PACKETS, WARM_FILES = 8, 4800, 2

    def __init__(self, run: Run):
        self.run = run
        self.outs: list[str] = []
        self.ops: list[_Op] = []
        self.throughput = 0.0

    def stage(self) -> None:
        corpus = captures.make_corpus(
            self.run.seed, self.run.path("corpus"), self.N_FILES, self.PACKETS, ("json", "pcap")
        )
        self.in_dir = self.run.path("corpus", "json")
        self.pcap_dir = self.run.path("corpus", "pcap")
        self.ledgers = {led.name: led for led in corpus.json_files.values()}
        self.pcap_ledgers = {led.name: led for led in corpus.pcap_files.values()}
        self.packets = corpus.packets("json")
        self.bytes = sum(os.path.getsize(p) for p in corpus.json_files)
        # The warm pass compiles the same plans over fewer files.
        self.warm_dir = self.run.path("warm_in")
        os.makedirs(self.warm_dir)
        for path in sorted(corpus.json_files)[: self.WARM_FILES]:
            shutil.copy(path, self.warm_dir)

    def ingest(self, in_dir: str, out: str) -> None:
        from chronicle_sniffer_spark import etl

        t = self.run.tracer
        udm = etl.convert_directory(self.run.spark, in_dir, PROC_TIME)
        with t.span("etl.parquet"):
            etl.write_udm_parquet(udm, os.path.join(out, "udm_parquet"))
        with t.span("etl.json_array"):
            etl.write_udm_json_array_per_file(udm, os.path.join(out, "udm_json"))
        with t.span("etl.metrics"):
            etl.per_file_metrics(udm).write.mode("overwrite").parquet(
                os.path.join(out, "file_metrics")
            )

    def warm(self) -> None:
        self.ingest(self.warm_dir, self.run.path("warm"))

    def measure(self, deadline: float) -> None:
        i = 0
        while i == 0 or time.time() < deadline:
            out = self.run.path(f"out{i}")
            try:
                with self.run.op(f"ingest{i}") as op:
                    self.ingest(self.in_dir, out)
            except Exception as exc:  # noqa: BLE001 - a failed ingest is a result
                print(f"perfbench: ingest{i} failed: {exc}", file=sys.stderr)
                self.run.attempted += len(self.ledgers)
                self.run.failed += len(self.ledgers)
            else:
                self.ops.append(op)
                self.outs.append(out)
                self.run.latencies.append(op.end - op.start)
            i += 1
        busy = sum(op.end - op.start for op in self.ops)
        self.throughput = self.packets * len(self.ops) / busy if busy else 0.0

    def check(self) -> None:
        for out in self.outs:
            bad = check_udm_rows(os.path.join(out, "udm_parquet"), self.ledgers)
            bad |= check_file_metrics(os.path.join(out, "file_metrics"), self.ledgers)
            for name, led in self.ledgers.items():
                base = name.rsplit(".", 1)[0]
                path = os.path.join(out, "udm_json", f"{base}.udm.json")
                try:
                    with open(path) as fh:
                        if len(json.load(fh)) != led.rows:
                            bad.add(name)
                except (OSError, ValueError):
                    bad.add(name)
            arrays = [f for f in os.listdir(os.path.join(out, "udm_json")) if f.endswith(".udm.json")]
            if len(arrays) != len(self.ledgers):
                bad.add("udm_json")
            self.run.attempted += len(self.ledgers)
            self.run.failed += len(bad)

    def trace_extras(self) -> None:
        """Noop writes of each reader alone and of the projection over
        the JSON reader; then a check of the pcap decoder's rows."""
        from chronicle_sniffer_spark.sources.json_source import read_tshark_json
        from chronicle_sniffer_spark.sources.pcap import read_pcap
        from chronicle_sniffer_spark.udm import project_udm

        spark = self.run.spark

        def noop(df) -> float:
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        decode, project, pcap = [], [], []
        for i in range(2):
            with self.run.op(f"extra{i}"):
                decode.append(noop(read_tshark_json(spark, self.in_dir)))
                project.append(noop(project_udm(read_tshark_json(spark, self.in_dir), PROC_TIME)))
                pcap.append(noop(read_pcap(spark, self.pcap_dir)))
        self.decode_s = median(decode)
        self.project_s = median(project) - self.decode_s
        self.pcap_decode_s = median(pcap)
        rows = Counter(
            {
                _basename(r.source_file): r["count"]
                for r in read_pcap(spark, self.pcap_dir).groupBy("source_file").count().collect()
            }
        )
        self.run.attempted += len(self.pcap_ledgers)
        self.run.failed += sum(rows[n] != led.rows for n, led in self.pcap_ledgers.items())
        self.trace_stream()

    def trace_stream(self) -> None:
        """The streaming path over the same captures: one warm
        ``run_udm_stream`` call over the warm files, then one timed call
        that drains the corpus on a fresh checkpoint, with the
        function's defaults; then a check that it committed every file
        exactly once."""
        from chronicle_sniffer_spark.streaming.udm_pipeline import run_udm_stream

        def drain(in_dir: str, name: str) -> None:
            run_udm_stream(
                self.run.spark,
                in_dir,
                self.run.path(name),
                PROC_TIME,
                checkpoint_dir=self.run.path(name + "_ckpt"),
            )

        drain(self.warm_dir, "stream_warm")
        with self.run.op("stream") as op:
            drain(self.in_dir, "stream")
        self.stream_s = op.end - op.start
        ckpt = self.run.path("stream_ckpt")
        self.stream_epochs = sum(f.isdigit() for f in os.listdir(os.path.join(ckpt, "commits")))
        with open(os.path.join(ckpt, "metadata")) as fh:
            self.stream_id = json.load(fh)["id"]
        out = self.run.path("stream")
        bad = check_file_metrics(os.path.join(out, "file_metrics"), self.ledgers)
        bad |= check_udm_rows(os.path.join(out, "udm_events"), self.ledgers)
        self.run.attempted += len(self.ledgers)
        self.run.failed += len(bad)

    def layer_metrics(self, stats: dict[str, tracing.OpStats]) -> dict[str, float]:
        t = self.run.tracer
        names = [op.name for op in self.ops]
        ops = [stats.get(n, tracing.OpStats()) for n in names]

        def per_op(span: str) -> list[tracing.Span]:
            return [s for n in names for s in t.spans_named(span, n)]

        concat = [
            a.wall - sum(s.wall for s in t.spans_named("etl.json_per_file", n))
            for n in names
            for a in t.spans_named("etl.json_array", n)
        ]
        planning = []
        for n, o in zip(names, ops):
            sinks = [s for k in ("etl.parquet", "etl.json_array", "etl.metrics") for s in t.spans_named(k, n)]
            planning.append(sum(tracing.planning_gap(o, s.start, s.end) for s in sinks))
        return {
            "sources.decode_s": self.decode_s,
            "sources.pcap_decode_s": self.pcap_decode_s,
            "sources.scan_passes": median(o.input_bytes / self.bytes for o in ops),
            "udm.project_s": self.project_s,
            "udm.build_s": median(s.wall for s in per_op("udm.build")),
            "udm.build_py4j_calls": median(s.py4j for s in per_op("udm.build")),
            "etl.parquet_s": median(s.wall for s in per_op("etl.parquet")),
            "etl.json_per_file_s": median(s.wall for s in per_op("etl.json_per_file")),
            "etl.json_concat_s": median(concat),
            "etl.metrics_s": median(s.wall for s in per_op("etl.metrics")),
            "etl.jobs": median(len(o.jobs) for o in ops),
            "catalyst.planning_s": median(planning),
            **exec_layers(ops),
            **self.stream_layers(),
        }

    def stream_layers(self) -> dict[str, float]:
        progress = [
            p for p in self.run.tracer.progress if p["id"] == self.stream_id and p["rows"] > 0
        ]

        def phase(key: str) -> float:
            return median(p["durations"].get(key, 0) for p in progress)

        return {
            "streaming.call_s": self.stream_s,
            "streaming.epochs_per_call": self.stream_epochs,
            "streaming.files_per_epoch": len(self.ledgers) / max(self.stream_epochs, 1),
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.query_planning_ms": phase("queryPlanning"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.commit_offsets_ms": phase("commitOffsets"),
            "streaming.latest_offset_ms": phase("latestOffset"),
            "streaming.trigger_ms": phase("triggerExecution"),
        }


# ---------------------------------------------------------------------------
# catalog_mix: a stable sample of registry entries, noop-consumed
# ---------------------------------------------------------------------------

SAMPLE_SALT = "catalog_mix:190"
# Every section has this threshold.  It gives seven entries, so the
# median execution falls inside one entry's runs rather than between
# two entries' costs.
SAMPLE_RATE = 0.03


def in_sample(name: str) -> bool:
    """An entry is sampled iff its salted name hash falls below the
    threshold, so adding or removing one entry changes the sample by
    that entry alone."""
    u = int.from_bytes(hashlib.sha256(f"{SAMPLE_SALT}:{name}".encode()).digest()[:8], "big")
    return u / 2**64 < SAMPLE_RATE


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    from chronicle_sniffer_spark.canon import canon_rows

    return hashlib.sha256(repr(canon_rows(cols, rows)).encode()).hexdigest()


class CatalogMix:
    """Closed loop, one analyst session: each sampled registry entry is
    built with ``spark_fn`` and consumed through the noop sink, in a
    seeded order, in whole cycles until the time is up, so every entry
    runs equally often."""

    SF = 0.1
    # After one pass the first timed cycle still ran 20-40% slower than
    # the later ones, and a run's median moved with how many cycles fit.
    WARM_PASSES = 2

    def __init__(self, run: Run):
        self.run = run

    def stage(self) -> None:
        from chronicle_sniffer_spark.plans import registry

        self.sf_dir = self.run.path("sf")
        self.table_bytes = sfdata.write(self.run.seed, self.SF, self.sf_dir)
        reg = registry()
        self.specs = [reg[n] for n in sorted(reg) if in_sample(n)]
        random.Random(self.run.seed).shuffle(self.specs)

    def execute(self, spec) -> None:
        t = self.run.tracer
        with t.span("plans.build"):
            df = spec.spark_fn(self.run.spark, self.sf_dir)
        with t.span("sink"):
            df.write.format("noop").mode("overwrite").save()

    def warm(self) -> None:
        """Build and run each sampled entry ``WARM_PASSES`` times.  An
        entry that fails here is a failed operation and stays out of the
        timed cycle."""
        for _ in range(self.WARM_PASSES):
            ok = []
            for spec in self.specs:
                try:
                    self.execute(spec)
                except Exception as exc:  # noqa: BLE001 - a failed query is a result
                    print(f"perfbench: {spec.name} failed: {exc}", file=sys.stderr)
                    self.run.attempted += 1
                    self.run.failed += 1
                else:
                    ok.append(spec)
            self.specs = ok

    def measure(self, deadline: float) -> None:
        self.ops: list[tuple[str, _Op]] = []
        i = 0
        while self.specs and (i % len(self.specs) or time.time() < deadline):
            spec = self.specs[i % len(self.specs)]
            with self.run.op(f"q{i}") as op:
                try:
                    self.execute(spec)
                except Exception as exc:  # noqa: BLE001 - a failed query is a result
                    print(f"perfbench: {spec.name} failed: {exc}", file=sys.stderr)
                    self.run.failed += 1
                    op = None
            if op is not None:
                self.ops.append((op.name, op))
                self.run.latencies.append(op.end - op.start)
            self.run.attempted += 1
            i += 1
        busy = sum(op.end - op.start for _, op in self.ops)
        self.throughput = len(self.ops) / busy if busy else 0.0

    def check(self) -> None:
        import duckdb

        from chronicle_sniffer_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        con.execute("SET memory_limit='1GB'")
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{self.run.path('duckdb')}'")
        for name in TABLE_NAMES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for spec in self.specs:
            try:
                got = self._spark_hash(spec)
                if spec.oracle is not None:
                    rel = con.sql(spec.oracle).df()
                    want = result_hash(
                        list(rel.columns), list(rel.itertuples(index=False, name=None))
                    )
                else:
                    want = self._spark_hash(spec)
            except Exception as exc:  # noqa: BLE001 - a failed check is a result
                print(f"perfbench: check of {spec.name} failed: {exc}", file=sys.stderr)
                got, want = None, ""
            if got != want:
                print(f"perfbench: {spec.name} result differs", file=sys.stderr)
                self.run.failed += 1
        con.close()

    def _spark_hash(self, spec) -> str:
        pdf = spec.spark_fn(self.run.spark, self.sf_dir).toPandas()
        return result_hash(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))

    def trace_extras(self) -> None:
        pass

    def layer_metrics(self, stats: dict[str, tracing.OpStats]) -> dict[str, float]:
        t = self.run.tracer
        names = [n for n, _ in self.ops]
        ops = [stats.get(n, tracing.OpStats()) for n in names]
        builds = [s for n in names for s in t.spans_named("plans.build", n)]
        sinks = [s for n in names for s in t.spans_named("sink", n)]
        loads = [s for n in names for s in t.spans_named("tables.load", n)]
        seen: set[int] = set()
        hits = 0
        for s in sorted(t.spans_named("tables.load"), key=lambda s: s.start):
            if id(s.result) in seen and s.op in names:
                hits += 1
            seen.add(id(s.result))
        return {
            "plans.build_s": median(s.wall for s in builds),
            "plans.build_py4j_calls": median(s.py4j for s in builds),
            "plans.eager_jobs": median(
                sum(1 for _, sub in o.jobs if sub <= b.end) for o, b in zip(ops, builds)
            ),
            "tables.load_calls": len(loads) / max(len(names), 1),
            "tables.memo_hit_ratio": hits / len(loads) if loads else 0.0,
            "catalyst.planning_s": median(
                tracing.planning_gap(o, s.start, s.end) for o, s in zip(ops, sinks)
            ),
            **exec_layers(ops),
        }


WORKLOADS = {"ingest_json": IngestJson, "catalog_mix": CatalogMix}


def run(name: str, seed: int, seconds: float, work: str, trace_dir: str | None) -> dict:
    r = Run(seed, work, trace_dir is not None)
    w = WORKLOADS[name](r)
    phases: dict[str, float] = {}
    t0 = last = time.time()

    def phase(label: str) -> None:
        nonlocal last
        now = time.time()
        phases[label] = now - last
        last = now

    try:
        r.start_session()
        phase("session")
        if r.tracer.enabled:
            _install_wrappers(r)
        w.stage()
        phase("stage")
        w.warm()
        phase("warm")
        setup_s = last - t0
        w.measure(last + seconds)
        phase("measure")
        rss = r.peak_rss_mb()
        w.check()
        phase("check")
        if r.tracer.enabled:
            w.trace_extras()
            phase("trace_extras")
    finally:
        r.tracer.restore()
        r.stop_session()
    phase("stop")
    print(
        "perfbench: " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()), file=sys.stderr
    )
    if not r.latencies:  # every operation failed; the result says so
        r.latencies.append(0.0)
    if not r.tracer.enabled:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (percentile(r.latencies, 0.5), "s"),
            "latency_p90_s": (percentile(r.latencies, 0.9), "s"),
            "throughput_per_s": (w.throughput, "1/s"),
        }
    else:
        stats = tracing.read_event_log(trace_dir, r.tracer.windows)
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers["session.start_s"] = r.start_s
        layers["session.jvm_peak_rss_mb"] = rss
        layers["bench.traced_latency_p50_s"] = percentile(r.latencies, 0.5)
        layers.update(w.layer_metrics(stats))
        metrics = {k: (float(v), UNITS[k]) for k, v in layers.items()}
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _install_wrappers(r: Run) -> None:
    from chronicle_sniffer_spark import etl, tables, udm
    from chronicle_sniffer_spark.plans import registry

    registry()  # import every plan module, so their load_table bindings exist
    t = r.tracer
    t.wrap(udm.project_udm, "udm.build")
    t.wrap(etl.write_udm_json_per_file, "etl.json_per_file")
    t.wrap(tables.load_table, "tables.load")
    t.listen(r.spark)


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_ratio", "_passes")):
        return "ratio"
    return "count"


UNITS = {name: _unit(name) for name in PER_LAYER}
