"""Stdlib readers for Spark's own telemetry: the JSON-lines event log
(per-stage executor CPU, GC, shuffle, spill and Python-worker metrics)
and Structured Streaming's ``recentProgress`` durations.

Jobs are attributed to a benchmark phase through the local property
``PHASE_PROP``, which Spark copies into every ``SparkListenerJobStart``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PHASE_PROP = "perfbench.phase"
MB = 1024.0 * 1024.0

# SQL accumulator names Spark gives the Python-evaluation metrics
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # ms
PY_INIT = "time to initialize Python workers"  # ms
PY_START = "time to start Python workers"  # ms


def app_log_files(log_dir: str, app_id: str) -> list[str]:
    """The numbered parts of one application's rolling event log
    (``eventlog_v2_<app>/events_<n>_<app>``), in order."""
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(files: list[str]) -> list[dict]:
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        break  # torn tail of a log still being written
    return events


def _accum(task_end: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in task_end.get("Task Info", {}).get("Accumulables", []):
        name = a.get("Name")
        if name in (PY_SENT, PY_RETURNED, PY_RUN, PY_INIT, PY_START):
            out[name] = out.get(name, 0.0) + float(a.get("Update") or 0)
    return out


def phase_metrics(events: list[dict], phases: set[str] | None = None) -> dict:
    """Totals over the jobs tagged with one of ``phases`` (all jobs when
    None): job/stage/task counts, executor CPU time, GC,
    shuffle write, spill, Python-worker bytes and times, and the task
    skew (max / median task time) of the widest stage."""
    jobs, stage_ids = 0, set()
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        tag = (e.get("Properties") or {}).get(PHASE_PROP)
        if phases is None or tag in phases:
            jobs += 1
            stage_ids.update(e.get("Stage IDs", []))
    ran = {
        e["Stage Info"]["Stage ID"]
        for e in events
        if e.get("Event") == "SparkListenerStageCompleted"
        and e["Stage Info"]["Stage ID"] in stage_ids
    }
    m = dict.fromkeys(
        (
            "executor_cpu_s", "gc_s", "shuffle_write_mb",
            "spill_mb", "py_sent_mb", "py_returned_mb", "py_run_s",
            "py_init_s", "py_start_s",
        ),
        0.0,
    )
    durations: dict[int, list[float]] = {}
    tasks = 0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in ran:
            continue
        tasks += 1
        tm = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        m["spill_mb"] += (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / MB
        acc = _accum(e)
        m["py_sent_mb"] += acc.get(PY_SENT, 0.0) / MB
        m["py_returned_mb"] += acc.get(PY_RETURNED, 0.0) / MB
        m["py_run_s"] += acc.get(PY_RUN, 0.0) / 1e3
        m["py_init_s"] += acc.get(PY_INIT, 0.0) / 1e3
        m["py_start_s"] += acc.get(PY_START, 0.0) / 1e3
        durations.setdefault(e["Stage ID"], []).append(
            float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        )
    skew = 1.0
    if durations:
        widest = max(durations.values(), key=lambda d: (len(d), sum(d)))
        mid = statistics.median(widest)
        skew = max(widest) / mid if mid > 0 else 1.0
    m.update(jobs=jobs, stages=len(ran), tasks=tasks, task_skew=skew)
    return m


def _as_dict(p) -> dict:
    if isinstance(p, dict):
        return p
    return json.loads(p.json)


def progress_durations(progress) -> dict[str, list[float]]:
    """Per data-carrying epoch: triggerExecution, addBatch, the rest of
    the trigger (overhead), queryPlanning and walCommit, all in ms."""
    out = {k: [] for k in ("trigger", "add_batch", "overhead", "planning", "wal")}
    for p in map(_as_dict, progress):
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs") or {}
        trig = float(d.get("triggerExecution", 0))
        add = float(d.get("addBatch", 0))
        out["trigger"].append(trig)
        out["add_batch"].append(add)
        out["overhead"].append(trig - add)
        out["planning"].append(float(d.get("queryPlanning", 0)))
        out["wal"].append(float(d.get("walCommit", 0)))
    return out
