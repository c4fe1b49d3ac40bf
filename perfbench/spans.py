"""Spans and Spark accounting for the benchmark, all from outside the
package.

A :class:`Tracer` records one span per call the benchmark makes into
the package (name, epoch-ms start and end, parent span). With tracing
on it also

* counts py4j gateway round trips by wrapping the gateway client's
  ``send_command`` in this process;
* tags each operation's jobs with ``setJobGroup``;
* enables Spark's event log for the session it is attached to, by
  setting JVM system properties that the next ``SparkConf`` loads.
  The package's ``get_spark`` stays unchanged.

:func:`dir_bytes` counts the bytes and files a workload wrote.

After the traced session stops, :func:`spark_counters` reads the event
log (millisecond timestamps) and attributes every job whose submission
time falls inside a span to that span: stages, tasks, executor time,
shuffle bytes, spill and input/output metrics, plus the driver gap (span
wall minus the union of its stages' run intervals).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

EVENT_LOG_PROPS = ("spark.eventLog.enabled", "spark.eventLog.dir", "spark.eventLog.compress")


@dataclass
class Span:
    name: str
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._py4j = 0
        self._spark = None

    # -- session attachment -------------------------------------------
    @staticmethod
    def enable_event_log(jvm, log_dir: str) -> None:
        """Make the NEXT SparkContext created in this JVM write an
        uncompressed event log to ``log_dir``."""
        os.makedirs(log_dir, exist_ok=True)
        values = ("true", "file://" + os.path.abspath(log_dir), "false")
        for key, value in zip(EVENT_LOG_PROPS, values):
            jvm.java.lang.System.setProperty(key, value)

    @staticmethod
    def disable_event_log(jvm) -> None:
        for key in EVENT_LOG_PROPS:
            jvm.java.lang.System.clearProperty(key)

    def attach(self, spark) -> None:
        """Count every gateway round trip made through ``spark``."""
        self._spark = spark
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counted(*args, **kwargs):
            self._py4j += 1
            return inner(*args, **kwargs)

        client.send_command = counted

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, /, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, time.time() * 1000.0, attrs=dict(attrs))
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sc = self._spark.sparkContext if (self.enabled and self._spark is not None) else None
        if sc is not None and parent is None:
            sc.setJobGroup(f"perfbench-{idx}", name)
        calls0 = self._py4j
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            sp.py4j_calls = self._py4j - calls0
            self._stack.pop()

    def children(self, idx: int, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == idx and s.name == name]


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase walls of ``df``'s query execution, from
    ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase, key in (("analysis", "analyze"), ("optimization", "optimize"), ("planning", "plan")):
        opt = phases.get(phase)
        out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def dir_bytes(*paths: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, files) of the data files under ``paths`` modified at or
    after epoch ``since``; checksum and marker files are skipped."""
    size = files = 0
    for path in paths:
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(root, n))
                if st.st_mtime >= since:
                    size += st.st_size
                    files += 1
    return size, files


# -- event log ---------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and finished tasks from every event log
    under ``log_dir``."""
    jobs, stages, tasks = {}, {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = (info.get("Submission Time"), info.get("Completion Time"))
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    tasks.setdefault(key, []).append(ev["Task Metrics"])
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def spark_counters(log: dict, span: Span) -> dict[str, float]:
    """Engine counters of the jobs submitted inside ``span``."""
    job_ids = [j for j, job in log["jobs"].items() if span.start_ms <= job["submit"] <= span.end_ms]
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"]}
    keys = [k for k in log["stages"] if k[0] in stage_ids]
    c = dict.fromkeys(
        ("exec_run_ms", "exec_cpu_ns", "gc_ms", "shuffle_write", "shuffle_read", "spill",
         "input_bytes", "input_rows", "output_bytes", "tasks"), 0.0)
    for key in keys:
        for m in log["tasks"].get(key, []):
            c["tasks"] += 1
            c["exec_run_ms"] += m["Executor Run Time"]
            c["exec_cpu_ns"] += m["Executor CPU Time"]
            c["gc_ms"] += m["JVM GC Time"]
            c["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            rd = m["Shuffle Read Metrics"]
            c["shuffle_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            c["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["input_rows"] += m["Input Metrics"]["Records Read"]
            c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
    spans = [log["stages"][k] for k in keys if None not in log["stages"][k]]
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": float(len(job_ids)),
        "spark.stages": float(len(keys)),
        "spark.tasks": c["tasks"],
        "spark.driver_gap_s": max(span.end_ms - span.start_ms - _union_ms(spans), 0.0) / 1000.0,
        "spark.exec_run_s": c["exec_run_ms"] / 1000.0,
        "spark.exec_cpu_s": c["exec_cpu_ns"] / 1e9,
        "spark.gc_s": c["gc_ms"] / 1000.0,
        "spark.shuffle_write_mb": c["shuffle_write"] / mb,
        "spark.shuffle_read_mb": c["shuffle_read"] / mb,
        "spark.spill_mb": c["spill"] / mb,
        "sources.input_mb": c["input_bytes"] / mb,
        "sources.input_rows": c["input_rows"],
        "sources.bytes_written": c["output_bytes"],
    }
