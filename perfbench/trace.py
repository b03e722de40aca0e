"""Spans, the Spark event-log reader and the per-layer metrics.

Spans are recorded by the benchmark around each public call into the
engine (name, start, end, parent, run id).  They are kept in memory and
written once, with the per-layer numbers, when the run ends.

The event log (enabled only in traced runs) supplies jobs, stages, task
metrics and SQL metrics; each is attributed to the span whose time window
contains it.  The client is single-threaded, so op windows never overlap;
the one exception is the two-table job run on the pipeline's own
``threadCount: 2`` pool, whose tables share one op window.

The approach extends ``tools/profile_query.py:parse_events`` (job start /
end pairs) with stages, tasks, Python-worker SQL metrics and scan sizes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark 4.1 display names of the Python-worker SQL metrics.  The three
# times are timing metrics in ms (SQLMetrics.createTimingMetric; the worker
# reports boot, init and finish as epoch ms), the data metrics are bytes.
# Per Python runner (one per Python operator and task):
#   boot  = worker boot - runner start   (dropped by Spark when negative)
#   init  = worker init - worker boot
#   total = worker finish - runner start
# A reused worker sets its boot time as soon as its previous task ends and
# then waits for the next one, so its boot is negative (not reported) and
# its init includes that idle wait.  init is therefore counted only for
# runners whose boot was reported, i.e. freshly started workers.
PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
PY_TIMES = ("boot_ms", "init_ms", "total_ms")
_PY_TOLERANCE_MS = 2  # the worker and the JVM each truncate to whole ms
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


class Tracer:
    """In-memory span recorder.  Parent links follow a per-thread stack,
    so spans opened on the pipeline's worker threads nest under the op
    that spawned them only when opened on the same thread; sink spans
    carry the op id explicitly for that reason."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent if parent is not None else (stack[-1] if stack else None),
                "run": self.run_id,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict, name: str) -> list[dict]:
        """Spans called ``name`` nested (at any depth) under ``span``."""
        ids = {span["id"]}
        out = []
        for s in self.spans[span["id"] + 1 :]:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out


@dataclass
class EventLog:
    jobs: list[dict] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)
    # (execution start ms, scan location, bytes) per file-scan node
    scans: list[tuple[float, str, int]] = field(default_factory=list)
    # Python runners whose times break the bounds of their task
    py_problems: list[str] = field(default_factory=list)


def _plan_accums(node: dict, scans: dict[int, str], py_nodes: dict[int, int]) -> None:
    """Map scan-size accumulators to their scan location, and each
    Python-metric accumulator to its plan node (keyed by the node's
    smallest Python accumulator id)."""
    metrics = node.get("metrics", [])
    loc = (node.get("metadata") or {}).get("Location")
    if loc:
        for m in metrics:
            if m["name"] == "size of files read":
                scans[m["accumulatorId"]] = loc
    py = [m["accumulatorId"] for m in metrics if m["name"] in PY_METRICS]
    for acc_id in py:
        py_nodes[acc_id] = min(py)
    for c in node.get("children", []):
        _plan_accums(c, scans, py_nodes)


def python_runners(task: dict, updates: list[tuple[int, str, int]], py_nodes: dict[int, int]) -> list[str]:
    """Add one task's Python-worker metrics to ``task``, one runner (plan
    node) at a time, and return the runners whose times are out of bounds:
    a runner's window lies inside the task's run time, and on a fresh
    worker boot + init lies inside that window."""
    runners: dict[int, dict] = {}
    for acc_id, key, value in updates:
        r = runners.setdefault(py_nodes.get(acc_id, -1), {})
        r[key] = r.get(key, 0) + value
    problems = []
    for r in runners.values():
        fresh = "boot_ms" in r
        if not fresh:
            r.pop("init_ms", None)  # a reused worker's idle wait, not init
        for k, v in r.items():
            task[k] = task.get(k, 0) + v
        total = r.get("total_ms", 0)
        if total > task["run_ms"] + _PY_TOLERANCE_MS or (
            fresh and r["boot_ms"] + r.get("init_ms", 0) > total + _PY_TOLERANCE_MS
        ):
            problems.append(
                f"stage {task['stage'][1]}: python {dict(sorted(r.items()))} vs task run {task['run_ms']} ms"
            )
    task["py_runners"] = len(runners)
    return problems


def read_event_log(log_dir: str) -> EventLog:
    """Parse every (uncompressed) event log under ``log_dir``."""
    log = EventLog()
    job_start: dict[int, dict] = {}
    exec_start: dict[int, float] = {}
    scan_loc: dict[int, str] = {}
    py_nodes: dict[int, int] = {}
    py_updates: list[tuple[dict, list]] = []
    accum_updates: list[tuple[int, int, int]] = []
    paths = [
        os.path.join(r, f)
        for r, _d, files in os.walk(log_dir)
        for f in files
        if "appstatus" not in f
    ]
    for path in sorted(paths):
        # ids restart with every SparkContext: key by file
        job_start.clear()
        with open(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    job_start[e["Job ID"]] = e
                elif kind == "SparkListenerJobEnd":
                    s = job_start.get(e["Job ID"])
                    if s is not None:
                        log.jobs.append(
                            {"start": s["Submission Time"], "end": e["Completion Time"]}
                        )
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    task = {
                        "stage": (path, e["Stage ID"], e.get("Stage Attempt ID", 0)),
                        "start": info["Launch Time"],
                        "end": info["Finish Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    }
                    py = [
                        (acc.get("ID"), PY_METRICS[acc["Name"]], int(acc.get("Update") or 0))
                        for acc in info.get("Accumulables", [])
                        if acc.get("Name") in PY_METRICS
                    ]
                    if py:
                        py_updates.append((task, py))
                    log.tasks.append(task)
                elif kind in (_SQL_START, _SQL_AQE):
                    if kind == _SQL_START:
                        exec_start[(path, e["executionId"])] = e["time"]
                    _plan_accums(e["sparkPlanInfo"], scan_loc, py_nodes)
                elif kind == _SQL_ACCUM:
                    for acc_id, value in e["accumUpdates"]:
                        accum_updates.append(((path, e["executionId"]), acc_id, value))
    for task, updates in py_updates:
        log.py_problems += python_runners(task, updates, py_nodes)
    for exec_key, acc_id, value in accum_updates:
        loc = scan_loc.get(acc_id)
        if loc is not None and exec_key in exec_start:
            log.scans.append((exec_start[exec_key], loc, int(value)))
    return log


def within(items: list[dict], windows: list[dict], key: str = "start") -> list[dict]:
    """Items whose ``key`` timestamp (epoch ms) falls inside any span window."""
    bounds = sorted((w["start"] * 1000.0, w["end"] * 1000.0) for w in windows)
    out = []
    for it in items:
        t = it[key]
        for lo, hi in bounds:
            if lo <= t <= hi:
                out.append(it)
                break
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_layer(log: EventLog, ops: list[dict], per: int, cores: int) -> dict:
    """``spark.*`` and ``pyworker.*`` metrics of the tasks and jobs inside
    the given op spans, per iteration (``per`` iterations)."""
    jobs = within(log.jobs, ops)
    tasks = within(log.tasks, ops)
    stage_keys = {t["stage"] for t in tasks}
    wall_ms = sum(o["dur"] for o in ops) * 1000.0
    gap_ms = 0.0
    for op in ops:
        mine = within(jobs, [op])
        covered = union_ms(
            [(max(j["start"], op["start"] * 1000), min(j["end"], op["end"] * 1000)) for j in mine]
        )
        gap_ms += op["dur"] * 1000.0 - covered
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    skews = [
        max(d) / max(statistics.median(d), 1.0) for d in by_stage.values() if len(d) >= 2
    ]
    task_ms = sum(t["run_ms"] for t in tasks)

    def total(k: str) -> float:
        return sum(t.get(k, 0) for t in tasks) / per

    return {
        "spark.jobs": len(jobs) / per,
        "spark.stages": len(stage_keys) / per,
        "spark.tasks": len(tasks) / per,
        "spark.task_s": task_ms / 1000.0 / per,
        "spark.task_cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1000.0,
        "spark.driver_gap_s": gap_ms / 1000.0 / per,
        "spark.core_busy_ratio": task_ms / max(wall_ms * cores, 1.0),
        "spark.shuffle_write_bytes": total("shuffle_write"),
        "spark.shuffle_read_bytes": total("shuffle_read"),
        "spark.input_bytes": total("input"),
        "spark.output_bytes": total("output"),
        "spark.spill_bytes": total("spill"),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "pyworker.boot_s": total("boot_ms") / 1000.0,
        "pyworker.init_s": total("init_ms") / 1000.0,
        "pyworker.total_s": total("total_ms") / 1000.0,
        "pyworker.bytes_sent": total("bytes_sent"),
        "pyworker.bytes_received": total("bytes_received"),
    }


def python_problems(log: EventLog, ops: list[dict], layer: dict) -> list[str]:
    """Runners out of bounds anywhere in the log, and any ``pyworker.*``
    time above ``spark.task_s`` times the most Python runners one task
    ran (a runner's time lies inside its task's run time)."""
    runners = max((t.get("py_runners", 0) for t in within(log.tasks, ops)), default=0)
    limit = layer["spark.task_s"] * max(runners, 1) + _PY_TOLERANCE_MS / 1000.0
    out = list(log.py_problems)
    for key in PY_TIMES:
        name = f"pyworker.{key[:-3]}_s"
        if layer[name] > limit:
            out.append(f"{name} {layer[name]:.3f} > spark.task_s x {max(runners, 1)} = {limit:.3f}")
    return out


def scan_bytes(log: EventLog, windows: list[dict], paths: list[str]) -> int:
    """Bytes read by file scans, started inside ``windows``, whose location
    names one of ``paths``."""
    bounds = [(w["start"] * 1000.0, w["end"] * 1000.0) for w in windows]
    total = 0
    for t, loc, nbytes in log.scans:
        if any(lo <= t <= hi for lo, hi in bounds) and any(p in loc for p in paths):
            total += nbytes
    return total


def trigger_phases(progress: list[dict]) -> dict:
    """Median per-trigger phase times (ms) of streaming progress events."""

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    overhead = [
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in progress
    ]
    return {
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.trigger_overhead_ms": float(statistics.median(overhead)) if overhead else 0.0,
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
    }


def progress_listener(sink: list[dict]):
    """A StreamingQueryListener that appends each progress event (as a
    dict with the wall time it arrived) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["arrived"] = time.time()
            sink.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
