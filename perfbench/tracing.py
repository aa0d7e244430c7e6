"""Layer tracing from outside the program, for ``--trace 1`` runs.

Nothing here edits the package.  The tracer:

- wraps the package's public functions where the package binds them
  (``udm.project_udm`` inside ``etl`` and ``streaming.udm_pipeline``,
  ``tables.load_table`` inside every plan module, ...) and records one
  span per call, with the py4j round trips the call made;
- counts py4j round trips by wrapping ``GatewayClient.send_command``;
- puts each benchmark operation in its own Spark job group;
- collects ``StreamingQueryListener`` progress events;
- reads Spark's event log after the session stops, and charges SQL
  executions, jobs and task metrics to operations by job group.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str | None
    start: float
    end: float = 0.0
    py4j: int = 0
    result: object = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def event_log_args(log_dir: str) -> str:
    """``spark-submit`` flags that turn the event log on.  Compression
    stays off: the default codec needs a Python module that may be
    missing."""
    return (
        "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
        f" --conf spark.eventLog.dir=file://{log_dir}"
    )


class Tracer:
    """Records spans, py4j round trips, job groups and streaming
    progress; with ``enabled=False`` every method does nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.py4j = 0
        self.op: str | None = None
        self.progress: list[dict] = []
        self.windows: list[tuple[str, float, float]] = []  # (op, start, end)
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- py4j ---------------------------------------------------------
    def count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(self, command, *args, **kwargs):
            tracer.py4j += 1
            return orig(self, command, *args, **kwargs)

        GatewayClient.send_command = send_command
        self._restore.append((GatewayClient, "send_command", orig))

    # -- spans --------------------------------------------------------
    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else contextlib.nullcontext()

    def wrap(self, func, name: str) -> None:
        """Replace every module-level binding of ``func`` inside the
        package with a wrapper that records a span per call."""
        tracer = self

        @functools.wraps(func)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                result = func(*args, **kwargs)
                s.result = result
            return result

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("chronicle_sniffer_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    setattr(mod, attr, traced)
                    self._restore.append((mod, attr, func))

    def restore(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()

    def spans_named(self, name: str, op: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (op is None or s.op == op)]

    # -- operations ---------------------------------------------------
    def begin_op(self, spark, op: str) -> None:
        if self.enabled:
            self.op = op
            spark.sparkContext.setJobGroup(op, op)
            self.windows.append((op, time.time(), float("inf")))

    def end_op(self, spark) -> None:
        if self.enabled:
            name, start, _ = self.windows[-1]
            self.windows[-1] = (name, start, time.time())
            self.op = None
            spark.sparkContext.setJobGroup("idle", "idle")

    # -- streaming listener -------------------------------------------
    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "id": str(p.id),
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "durations": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.span = Span(name, tracer.op, 0.0)

    def __enter__(self) -> Span:
        self.span.py4j = self.tracer.py4j
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.span.py4j = self.tracer.py4j - self.span.py4j
        with self.tracer._lock:
            self.tracer.spans.append(self.span)


# -- event log ----------------------------------------------------------


@dataclass
class OpStats:
    """Engine work charged to one operation (job group)."""

    jobs: list[tuple[int, float]] = field(default_factory=list)  # (job id, submit s)
    sql: list[tuple[float, float]] = field(default_factory=list)  # (start s, end s)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str, windows: list[tuple[str, float, float]]) -> dict[str, OpStats]:
    """Parse every event-log file under ``log_dir`` into per-operation
    totals.  A job belongs to the operation named by its job group; a
    job without one (micro-batches run on the stream's own thread) to
    the operation whose time window holds its submission.  Call after
    the session has stopped, so the log is flushed."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    )
    names = {name for name, _, _ in windows}

    def op_at(t: float) -> str | None:
        for name, start, end in windows:
            if start <= t <= end:
                return name
        return None

    wanted = (
        '{"Event":"SparkListenerJobStart"',
        '{"Event":"SparkListenerTaskEnd"',
        '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"',
        '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"',
    )

    def events():
        # One event per line; SQL start events carry whole plans, so
        # skip unneeded kinds before parsing and keep nothing.
        for path in paths:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(wanted):
                        try:
                            yield json.loads(line)
                        except json.JSONDecodeError:
                            continue  # a line cut short at the end of a log

    stage_op: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    ops: dict[str, OpStats] = defaultdict(OpStats)
    for ev in events():
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            submitted = ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            op = group if group in names else op_at(submitted)
            if op is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
            ops[op].jobs.append((ev["Job ID"], submitted))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"] / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            start = exec_start.get(ev["executionId"])
            op = op_at(start) if start is not None else None
            if op is not None:
                ops[op].sql.append((start, ev["time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if op is None or not m:
                continue
            o = ops[op]
            o.tasks += 1
            o.run_s += m.get("Executor Run Time", 0) / 1000.0
            o.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            o.gc_s += m.get("JVM GC Time", 0) / 1000.0
            o.deser_s += m.get("Executor Deserialize Time", 0) / 1000.0
            o.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            o.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            o.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            o.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            o.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(ops)


def planning_gap(op: OpStats, action_start: float, action_end: float) -> float:
    """Seconds from an action call to the first SQL execution it
    started (Catalyst analysis, optimisation and physical planning)."""
    starts = [s for s, _ in op.sql if action_start <= s <= action_end]
    return min(starts) - action_start if starts else 0.0
