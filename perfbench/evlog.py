"""Per-window aggregates from Spark event logs (JSON lines, uncompressed)."""
from __future__ import annotations

import json
import os


def load(evdir: str) -> dict:
    """Jobs, stages and tasks of every application log under ``evdir``."""
    jobs, stages, tasks = [], {}, []
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(evdir)
                   for n in names)
    for path in paths:
        # one file per application, or a directory of rolled-over parts
        name = os.path.relpath(path, evdir).split(os.sep)[0]
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an in-progress log
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs.append(e["Submission Time"] / 1e3)
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" in si and "Completion Time" in si:
                        stages[(name, si["Stage ID"], si["Stage Attempt ID"])] = {
                            "start": si["Submission Time"] / 1e3,
                            "end": si["Completion Time"] / 1e3,
                            "max_task": 0.0,
                        }
                elif ev == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "key": (name, e["Stage ID"], e["Stage Attempt ID"]),
                        "start": ti["Launch Time"] / 1e3,
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    })
    for t in tasks:
        st = stages.get(t["key"])
        if st is not None:
            st["max_task"] = max(st["max_task"], t["dur"])
    return {"jobs": jobs, "stages": list(stages.values()), "tasks": tasks}


def window(ev: dict, t0: float, t1: float) -> dict:
    """Counts and sums for work that started inside [t0, t1]."""
    inside = lambda x: t0 <= x <= t1  # noqa: E731
    stages = [s for s in ev["stages"] if inside(s["start"])]
    tasks = [t for t in ev["tasks"] if inside(t["start"])]
    return {
        "jobs": sum(1 for j in ev["jobs"] if inside(j)),
        "stages": stages,
        "cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write": sum(t["shuffle_write"] for t in tasks),
        "spill": sum(t["spill"] for t in tasks),
    }
