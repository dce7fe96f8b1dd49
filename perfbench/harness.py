"""Shared run context: engine set-up, operation timing and result."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.tracing import EventLog, Tracer

SETUP_REPEATS = 3

# Per-layer metrics every workload reports (see README.md for which
# end-to-end metric each should move).  A workload that never enters a
# module reports 0 for it.
LAYER_METRICS = {
    # end-to-end figures too unsteady across seeds to bound: p90 of a
    # few dozen operations at most, and peak RSS, which follows GC timing
    "e2e.latency_p90_s": "s",
    "e2e.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "catalog.register_s": "s",
    "declared.spark_text_s": "s",
    "spark.analyze_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "ddl.execute_sql_s": "s",
    "extensions.build_s": "s",
    "extensions.build_jobs": "count",
    "operators.iterate_jobs": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "stage.skew": "ratio",
    "dedup.pair_yield": "ratio",
    "python.rows_sent": "rows",
    "python.bytes_sent": "bytes",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.get_batch_s": "s",
    "stream.latest_offset_s": "s",
    "stream.wal_commit_s": "s",
    "stream.state_commit_s": "s",
    "stream.state_rows": "rows",
    "stream.state_bytes": "bytes",
    "stream.late_rows": "rows",
    "stream.backlog_files": "count",
    "gen.lag_p90_s": "s",
    "trace.overhead_s": "s",
    "error_rate": "ratio",
}

# The dedup/graph pipelines sql_mix runs beside its reads; each gets its
# own build, exec and job figures (0 on stream_ingest).
LLM_PIPELINES = (
    "x_graph_sssp",
    "x_semdedup",
)
for _p in LLM_PIPELINES:
    LAYER_METRICS[f"extensions.build_s.{_p}"] = "s"
    LAYER_METRICS[f"spark.exec_s.{_p}"] = "s"
    LAYER_METRICS[f"sched.jobs.{_p}"] = "count"


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]); values must be non-empty."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


@dataclass
class Op:
    """One timed operation and whether its output was right."""

    name: str
    kind: str
    latency: float
    ok: bool = True
    error: str = ""
    op_id: str = ""


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    work: str
    fixture: str = ""
    manifest: dict = field(default_factory=dict)
    spark: object = None
    tracer: Tracer = None
    ops: list[Op] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # name -> (value, samples)
    layers: dict = field(default_factory=dict)  # name -> value
    notes: dict = field(default_factory=dict)
    setup_s: float = 0.0

    @contextmanager
    def phase(self, name: str):
        """Wall time of a benchmark phase, reported in the run description."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.notes.setdefault("phase_s", {})[name] = round(time.perf_counter() - t0, 3)

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        """Cold session, then catalog.register + input load repeated
        ``SETUP_REPEATS`` times over identical copies of the fixture (the
        catalog caches per directory, so each copy is a real load).
        ``setup_s`` = cold get_spark + the median registration."""
        from flink_1_11_1_spark import catalog, session

        base = os.path.join(self.work, "fixture")
        with self.phase("inputs"):
            self.manifest = inputs.write_fixture(self.seed, base)
            copies = [base]
            for k in range(1, SETUP_REPEATS):
                copies.append(f"{base}_{k}")
                shutil.copytree(base, copies[-1])
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench")
        get_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        reg = []
        for d in copies:
            t0 = time.perf_counter()
            with self.tracer.span("catalog.register"):
                catalog.register(self.spark, d)
            reg.append(time.perf_counter() - t0)
        self.fixture = copies[-1]
        self.setup_s = get_s + statistics.median(reg)
        self.layers["session.get_spark_s"] = get_s
        self.layers["catalog.register_s"] = statistics.median(reg)
        self.notes["setup_samples"] = len(reg)

    # -- job groups ------------------------------------------------------

    def instrument(self, on: bool) -> None:
        """Turn a traced run's instrumentation on or off: spans, job
        groups and the event log.  The event log is a launch setting, so
        while instrumentation is off its listener is detached from the
        listener bus; the log then holds only the instrumented stretches."""
        if not self.trace or on == self.tracer.enabled:
            return
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        logger = sc.eventLogger().get()
        if on:
            sc.addSparkListener(logger)
        else:
            sc.removeSparkListener(logger)
        self.tracer.enabled = on

    def group(self, name: str | None) -> None:
        """Tag the following jobs (while instrumented only)."""
        if self.tracer.enabled:
            sc = self.spark.sparkContext
            if name is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(name, name)

    def event_log(self) -> EventLog:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return EventLog.from_dir(os.path.join(self.work, "eventlog"))

    # -- per-op layer figures from the trace -----------------------------

    def span_means(self, names: dict[str, str], n_ops: int) -> None:
        """metric <- total time of span ``name`` per operation."""
        for metric, span in names.items():
            self.layers[metric] = self.tracer.total(span) / max(n_ops, 1)

    def sched_layers(self, log: EventLog, ops: list[Op], groups_of) -> None:
        """Scheduler and executor layers, per operation, from the log."""
        tot: dict[str, float] = {}
        gaps, skews = [], []
        for op in ops:
            s = log.summary(groups_of(op))
            for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                      "shuffle_read", "shuffle_write", "spill", "py_rows", "py_bytes"):
                tot[k] = tot.get(k, 0.0) + s[k]
            gaps.append(max(op.latency - s["stage_union_s"], 0.0))
            skews.append(s["skew"])
        n = max(len(ops), 1)
        names = {
            "sched.jobs": "jobs", "sched.stages": "stages", "sched.tasks": "tasks",
            "exec.run_s": "run_s", "exec.cpu_s": "cpu_s", "exec.gc_s": "gc_s",
            "shuffle.read_bytes": "shuffle_read", "shuffle.write_bytes": "shuffle_write",
            "exec.spill_bytes": "spill", "python.rows_sent": "py_rows",
            "python.bytes_sent": "py_bytes",
        }
        for metric, k in names.items():
            self.layers[metric] = tot.get(k, 0.0) / n
        self.layers["sched.driver_gap_s"] = sum(gaps) / n
        self.layers["stage.skew"] = statistics.median(skews) if skews else 0.0
