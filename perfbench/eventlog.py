"""Reduce a Spark event log to per-op and per-workload stage metrics.

Sessions run with the UI off, so the traced run turns on
``spark.eventLog.enabled`` and reads the JSON-lines log after the session
stops. The benchmark tags every job it starts with two local properties,
``perfbench.op`` and ``perfbench.phase``; the reducer follows
job → stages → tasks and sums, per op:

* jobs, stages and tasks;
* executor run time, executor CPU time and JVM GC time;
* shuffle read and write bytes, and spill (memory + disk) bytes;
* the SQL metrics at the Python boundary, "data sent to Python workers"
  and "data returned from Python workers", from task accumulables;
* task skew: per stage with two or more tasks, the slowest task's run
  time over the mean, averaged with stage run time as the weight;
* idle time: the part of each op's wall window (taken on the driver with
  the same wall clock the JVM stamps events with) in which no task ran.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class OpStats:
    __slots__ = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                 "shuffle_read", "shuffle_write", "spill", "py_sent",
                 "py_received", "stage_skew", "task_spans", "job_ms")

    def __init__(self) -> None:
        self.jobs = self.stages = self.tasks = 0
        self.run_ms = self.cpu_ns = self.gc_ms = 0
        self.shuffle_read = self.shuffle_write = self.spill = 0
        self.py_sent = self.py_received = 0
        self.stage_skew: list[tuple[float, float]] = []  # (skew, weight)
        self.task_spans: list[tuple[float, float]] = []
        self.job_ms = 0.0

    def skew(self) -> float:
        w = sum(wt for _s, wt in self.stage_skew)
        if not w:
            return 1.0
        return sum(s * wt for s, wt in self.stage_skew) / w


def reduce_log(path: str) -> dict[tuple[str, str], OpStats]:
    """{(phase, op): OpStats} for every tagged job in the log at ``path``."""
    job_key: dict[int, tuple[str, str]] = {}
    stage_key: dict[int, tuple[str, str]] = {}
    job_start: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    out: dict[tuple[str, str], OpStats] = defaultdict(OpStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                op = props.get("perfbench.op")
                if op is None:
                    continue
                key = (props.get("perfbench.phase", ""), op)
                job_key[ev["Job ID"]] = key
                job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                st = out[key]
                st.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = key
            elif kind == "SparkListenerJobEnd":
                key = job_key.get(ev["Job ID"])
                if key is not None:
                    out[key].job_ms += (ev.get("Completion Time", 0)
                                        - job_start[ev["Job ID"]])
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                key = stage_key.get(sid)
                if key is None:
                    continue
                out[key].stages += 1
                runs = stage_tasks.pop(sid, [])
                if len(runs) >= 2 and sum(runs) > 0:
                    mean = sum(runs) / len(runs)
                    out[key].stage_skew.append((max(runs) / mean, sum(runs)))
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                if key is None:
                    continue
                _add_task(out[key], ev, stage_tasks[ev["Stage ID"]])
    return dict(out)


def _add_task(st: OpStats, ev: dict, stage_runs: list[float]) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    run = m.get("Executor Run Time", 0)
    stage_runs.append(run)
    st.run_ms += run
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name in (PY_SENT, PY_RECEIVED):
            try:
                upd = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == PY_SENT:
                st.py_sent += upd
            else:
                st.py_received += upd
    if info.get("Launch Time") and info.get("Finish Time"):
        st.task_spans.append((info["Launch Time"], info["Finish Time"]))


def find_log(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    logs = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return os.path.join(log_dir, logs[0])


def workload_metrics(stats: dict[tuple[str, str], OpStats], phase: str,
                     windows: dict[str, list[tuple[float, float]]],
                     n_passes: int) -> dict[str, float]:
    """Per-pass ``spark.*`` metrics over the ops of one phase. ``windows``
    maps each op to the driver-side wall windows (epoch ms) it ran in."""
    sel = [(op, st) for (ph, op), st in stats.items() if ph == phase]
    n = max(n_passes, 1)

    def tot(attr):
        return sum(getattr(st, attr) for _op, st in sel)

    idle_ms = 0.0
    for op, st in sel:
        for lo, hi in windows.get(op, ()):
            idle_ms += (hi - lo) - _union_ms(st.task_spans, lo, hi)
    skews = [(s, w) for _op, st in sel for s, w in st.stage_skew]
    wsum = sum(w for _s, w in skews)
    return {
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.executor_run_s": tot("run_ms") / 1e3 / n,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9 / n,
        "spark.gc_s": tot("gc_ms") / 1e3 / n,
        "spark.shuffle_read_mb": tot("shuffle_read") / 1e6 / n,
        "spark.shuffle_write_mb": tot("shuffle_write") / 1e6 / n,
        "spark.spill_mb": tot("spill") / 1e6 / n,
        "spark.python_sent_mb": tot("py_sent") / 1e6 / n,
        "spark.python_received_mb": tot("py_received") / 1e6 / n,
        "spark.task_skew": (sum(s * w for s, w in skews) / wsum) if wsum else 1.0,
        "spark.idle_s": idle_ms / 1e3 / n,
    }


def op_table(stats: dict[tuple[str, str], OpStats]) -> list[dict]:
    """One row per (phase, op), for the traced run's stage table."""
    return [
        {
            "phase": ph, "op": op, "jobs": st.jobs, "stages": st.stages,
            "tasks": st.tasks, "executor_run_s": st.run_ms / 1e3,
            "executor_cpu_s": st.cpu_ns / 1e9, "gc_s": st.gc_ms / 1e3,
            "shuffle_read_mb": st.shuffle_read / 1e6,
            "shuffle_write_mb": st.shuffle_write / 1e6,
            "spill_mb": st.spill / 1e6,
            "python_sent_mb": st.py_sent / 1e6,
            "python_received_mb": st.py_received / 1e6,
            "task_skew": st.skew(),
        }
        for (ph, op), st in sorted(stats.items())
    ]
