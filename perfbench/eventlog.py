"""Spark event-log parser: engine-layer metrics for one timed window.

Spark writes the log when a session is created with
``spark.eventLog.enabled=true`` (``conf()`` below gives the settings,
passed through ``get_spark(extra_conf=...)``). ``summarize`` reads every
event file under the log directory and keeps the jobs submitted inside
a wall-clock window, which is how one timed window is told apart from
warm-up and probe calls in the same session (served requests run on
handler threads, so job groups or thread-local properties would not
follow them).

All sums are divided by ``n_ops`` (job calls or requests in the
window), so runs that fit a different number of operations into the
same window stay comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PY_RUN = "time to run Python workers"  # SQL metric, ms per task
PY_START = "time to start Python workers"  # SQL metric, ms per task


def conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str):
    # a rolling log is a directory eventlog_v2_<app>/events_<n>_<app>;
    # a plain one is a single file named after the app
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(log_dir: str, t0: float, t1: float, n_ops: int) -> dict[str, float]:
    """Per-operation engine metrics of the jobs submitted in [t0, t1]
    (epoch seconds). Call after the session has stopped, so the log is
    complete."""
    lo, hi = int(t0 * 1000), int(t1 * 1000)
    window_stages: set[int] = set()
    jobs = 0
    stages: dict[tuple[int, int], tuple[int, int]] = {}
    task_runs: dict[int, list[int]] = {}
    acc = dict.fromkeys(
        ("run", "cpu", "gc", "deser", "py_run", "py_start", "sw", "sr", "spill"), 0
    )
    tasks = 0
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if lo <= e["Submission Time"] <= hi:
                jobs += 1
                window_stages.update(e["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in window_stages and "Submission Time" in info:
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in window_stages:
            m = e.get("Task Metrics") or {}
            if not m:
                continue
            tasks += 1
            task_runs.setdefault(e["Stage ID"], []).append(m["Executor Run Time"])
            acc["run"] += m["Executor Run Time"]
            acc["cpu"] += m["Executor CPU Time"] / 1e6  # ns -> ms
            acc["gc"] += m["JVM GC Time"]
            acc["deser"] += m["Executor Deserialize Time"]
            acc["sw"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            acc["sr"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            acc["spill"] += m["Disk Bytes Spilled"]
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Name") == PY_RUN:
                    acc["py_run"] += int(a["Update"])
                elif a.get("Name") == PY_START:
                    acc["py_start"] += int(a["Update"])
    # skew: max/median task run time in the stage that ran longest
    skew = 1.0
    if stages:
        (sid, _), _ = max(stages.items(), key=lambda kv: kv[1][1] - kv[1][0])
        runs = task_runs.get(sid, [])
        if runs and statistics.median(runs) > 0:
            skew = max(runs) / statistics.median(runs)
    busy_ms = _union_ms([(max(a, lo), min(b, hi)) for a, b in stages.values() if a < hi])
    n = max(n_ops, 1)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": tasks / n,
        "spark.executor_run_s": acc["run"] / 1000 / n,
        "spark.executor_cpu_s": acc["cpu"] / 1000 / n,
        "spark.gc_s": acc["gc"] / 1000 / n,
        "spark.deserialize_s": acc["deser"] / 1000 / n,
        "spark.python_run_s": acc["py_run"] / 1000 / n,
        "spark.python_start_s": acc["py_start"] / 1000 / n,
        "spark.shuffle_write_mb": acc["sw"] / 1e6 / n,
        "spark.shuffle_read_mb": acc["sr"] / 1e6 / n,
        "spark.spill_mb": acc["spill"] / 1e6 / n,
        "spark.task_skew": skew,
        "spark.driver_s": max(hi - lo - busy_ms, 0) / 1000 / n,
    }
