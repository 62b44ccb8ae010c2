"""Parse a Spark event log into the benchmark's `spark.*` metrics.

The log is the uncompressed JSON-lines file Spark writes when
`spark.eventLog.enabled=true` and `spark.eventLog.compress=false`. Jobs,
stages and tasks are attributed to a time window (a pass, or one query
within a pass) by their submission or launch time: the benchmark's client
is one closed loop, so every job a window's calls start is submitted
inside that window.
"""

from __future__ import annotations

import json
import os
import statistics

MB = 1024 * 1024
METRICS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
           "cpu_share", "core_busy_share", "shuffle_write_mb",
           "shuffle_read_mb", "spill_mb", "gc_s", "input_mb", "task_skew")
_KEEP = {"SparkListenerJobStart", "SparkListenerStageCompleted",
         "SparkListenerTaskEnd"}


def find_log(log_dir: str) -> list[str]:
    """The event files of the one application logged in `log_dir`, in
    order: a single file, or the `events_<n>_<app>` files of Spark 4's
    rolling `eventlog_v2_<app>/` directory."""
    entries = os.listdir(log_dir)
    if len(entries) != 1:
        raise FileNotFoundError(f"expected one application log in {log_dir}, "
                                f"found {sorted(entries)}")
    path = os.path.join(log_dir, entries[0])
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    return [os.path.join(path, f)
            for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def read_events(paths: list[str]) -> list[dict]:
    """The job, stage and task events of a log, in log order."""
    events = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if any(kind in line[:60] for kind in _KEEP):
                    events.append(json.loads(line))
    return events


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    write = m.get("Shuffle Write Metrics") or {}
    return {
        "stage": (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
        "launch": info["Launch Time"] / 1000,
        "duration": (info["Finish Time"] - info["Launch Time"]) / 1000,
        "run_s": m.get("Executor Run Time", 0) / 1000,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000,
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": (read.get("Remote Bytes Read", 0)
                         + read.get("Local Bytes Read", 0)),
        "shuffle_write": write.get("Shuffle Bytes Written", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }


class EventLog:
    def __init__(self, events: list[dict]) -> None:
        kind = "Event"
        self.jobs = [ev["Submission Time"] / 1000 for ev in events
                     if ev[kind] == "SparkListenerJobStart"]
        self.stages = [ev["Stage Info"]["Submission Time"] / 1000
                       for ev in events
                       if ev[kind] == "SparkListenerStageCompleted"
                       and "Submission Time" in ev["Stage Info"]]
        self.tasks = [_task_row(ev) for ev in events
                      if ev[kind] == "SparkListenerTaskEnd"]

    @classmethod
    def load(cls, paths: list[str]) -> "EventLog":
        return cls(read_events(paths))

    def window(self, start: float, end: float, cores: int) -> dict[str, float]:
        """Every `spark.*` metric over the jobs, stages and tasks that
        started in [start, end] (epoch seconds)."""

        def inside(t: float) -> bool:
            # Event-log times are whole milliseconds.
            return start - 0.001 <= t <= end + 0.001

        tasks = [t for t in self.tasks if inside(t["launch"])]
        run = sum(t["run_s"] for t in tasks)
        cpu = sum(t["cpu_s"] for t in tasks)
        by_stage: dict[tuple, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["duration"])
        skews = [max(d) / statistics.median(d) for d in by_stage.values()
                 if len(d) >= 2 and statistics.median(d) > 0]
        wall = max(end - start, 1e-9)
        return {
            "jobs": sum(1 for t in self.jobs if inside(t)),
            "stages": sum(1 for t in self.stages if inside(t)),
            "tasks": len(tasks),
            "task_run_s": run,
            "task_cpu_s": cpu,
            "cpu_share": cpu / run if run else 0.0,
            "core_busy_share": run / (wall * cores),
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB,
            "spill_mb": sum(t["spill"] for t in tasks) / MB,
            "gc_s": sum(t["gc_s"] for t in tasks),
            "input_mb": sum(t["input"] for t in tasks) / MB,
            "task_skew": max(skews, default=1.0),
        }
