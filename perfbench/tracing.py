"""Measurement plumbing: spans, the Spark event-log parser and memory.

Spans are recorded by the benchmark around its own calls into the
engine's modules (name, start, end, parent, operation id), kept in
memory and written out when the run ends.  A span's self time is its
duration minus the part of it that its child spans cover.

The event log is Spark's JSON-lines listener log, enabled for traced
runs with compression and rolling off.  ``EventLog`` attributes task
metrics and SQL metrics to operations by job group: the benchmark sets
one job group per operation phase, and every job carries it in its
properties.  Plan trees are used only to find which SQL metrics belong
to joins and Python operators, never to attribute work.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[tuple[dict, float]]:
        """(span, self seconds) for every closed span."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered = union_length((c["start"], c["end"]) for c in kids[i])
            out.append((s, (s["end"] - s["start"]) - covered))
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s, self_s in self.self_times():
                f.write(json.dumps({**s, "self": self_s}) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------------- memory


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children", encoding="ascii") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def tree_rss_mb(root: int | None = None) -> float:
    """RSS of a process and all its descendants (the Python driver, the
    JVM it launched and the JVM's Python workers), in MB."""
    todo, kb = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        kb += _rss_kb(pid)
        todo.extend(_children(pid))
    return kb / 1024


class PeakRss:
    """Samples tree RSS on a background thread; ``peak`` is the max seen."""

    def __init__(self, interval: float = 0.05):
        import threading

        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak


# -------------------------------------------------------------- event log

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"


class EventLog:
    """Parsed Spark event log, queryable by job group."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        # accumulator ids of interest -> role
        self.join_rows: set[int] = set()
        self.py_bytes: set[int] = set()
        self.py_rows: set[int] = set()
        for line in lines:
            line = line.strip()
            if line:
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
        with open(os.path.join(log_dir, names[0]), encoding="utf-8") as f:
            return cls(f)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {
            "job": None, "submit": None, "complete": None, "tasks": 0,
            "task_ms": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "accum": defaultdict(float),
        })

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {"group": job_group(ev.get("Properties") or {})}
            for sid in ev.get("Stage IDs", []):
                st = self._stage(sid)
                if st["job"] is None:  # a later job lists it again as skipped
                    st["job"] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["submit"] = info.get("Submission Time")
            st["complete"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    st["accum"][a["ID"]] += float(upd)
        elif kind in (SQL_START, SQL_AQE):
            self._plan(ev["sparkPlanInfo"])

    def _plan(self, node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        name = node.get("nodeName", "")
        if "Join" in name and ROWS in metrics:
            self.join_rows.add(metrics[ROWS])
        if PY_SENT in metrics:
            self.py_bytes.add(metrics[PY_SENT])
            for child in node.get("children", []):
                rid = _first_rows_metric(child)
                if rid is not None:
                    self.py_rows.add(rid)
        for child in node.get("children", []):
            self._plan(child)

    # -- queries -------------------------------------------------------

    def stages_of(self, groups) -> list[dict]:
        groups = set(groups)
        return [
            st for st in self.stages.values()
            if st["job"] is not None and self.jobs[st["job"]]["group"] in groups
        ]

    def jobs_of(self, groups) -> int:
        groups = set(groups)
        return sum(1 for j in self.jobs.values() if j["group"] in groups)

    def summary(self, groups) -> dict:
        """Scheduler and executor totals over the jobs of ``groups``."""
        sts = self.stages_of(groups)
        ran = [s for s in sts if s["tasks"]]
        intervals = [
            (s["submit"] / 1000, s["complete"] / 1000)
            for s in ran if s["submit"] is not None and s["complete"] is not None
        ]
        longest = max(ran, key=lambda s: sum(s["task_ms"]), default=None)
        skew = 0.0
        if longest is not None:
            med = statistics.median(longest["task_ms"])
            skew = max(longest["task_ms"]) / med if med > 0 else 1.0
        return {
            "jobs": self.jobs_of(groups),
            "stages": len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "stage_union_s": union_length(intervals),
            "run_s": sum(s["run_ms"] for s in ran) / 1000,
            "cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in ran) / 1000,
            "shuffle_read": sum(s["shuffle_read"] for s in ran),
            "shuffle_write": sum(s["shuffle_write"] for s in ran),
            "spill": sum(s["spill"] for s in ran),
            "skew": skew,
            "join_rows": _accum(ran, self.join_rows),
            "py_bytes": _accum(ran, self.py_bytes),
            "py_rows": _accum(ran, self.py_rows),
        }


def _accum(stages: list[dict], ids: set[int]) -> float:
    return sum(v for s in stages for a, v in s["accum"].items() if a in ids)


def job_group(props: dict) -> str | None:
    """The benchmark's job group, or ``stream:<query id>:<batch id>`` for
    a micro-batch job of a streaming query."""
    if "sql.streaming.queryId" in props:  # its job group is the run id
        return f"stream:{props['sql.streaming.queryId']}:{props.get('streaming.sql.batchId')}"
    return props.get("spark.jobGroup.id")


def _first_rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == ROWS:
            return m["accumulatorId"]
    for child in node.get("children", []):
        rid = _first_rows_metric(child)
        if rid is not None:
            return rid
    return None
