"""Offline reader for a Spark event log (JSON lines, uncompressed).

Stages are attributed to the job group of the first job that lists them;
the benchmark sets a job group around each call it traces. Per stage it sums
the task metrics (run time, GC, shuffle, spill, input records) and reads the
Python-worker SQL metrics from the stage's accumulables.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN_MS = "time to run Python workers"

FIELDS = (
    "run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_records",
    "python_bytes_sent",
    "python_bytes_received",
    "python_run_s",
)


def _task_metrics(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
    }


def read_stages(log_dir: str) -> list[dict]:
    """One dict per executed stage attempt: {"group", "stage", *FIELDS}."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    group_of_stage: dict[int, str | None] = {}
    stages: dict[tuple[int, int], dict] = defaultdict(
        lambda: {k: 0 for k in FIELDS}
    )
    completed: list[tuple[int, int]] = []
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    group_of_stage.setdefault(sid, g)
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics")
                if not tm:
                    continue
                key = (e["Stage ID"], e["Stage Attempt ID"])
                acc = stages[key]
                for k, v in _task_metrics(tm).items():
                    acc[k] += v
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                acc = stages[key]
                for a in si.get("Accumulables", []):
                    name, value = a.get("Name"), a.get("Value")
                    if name == PY_SENT:
                        acc["python_bytes_sent"] += int(value)
                    elif name == PY_RECEIVED:
                        acc["python_bytes_received"] += int(value)
                    elif name == PY_RUN_MS:
                        acc["python_run_s"] += int(value) / 1000.0
                completed.append(key)
    out = []
    for key in completed:
        row = dict(stages[key])
        row["stage"] = key[0]
        row["group"] = group_of_stage.get(key[0])
        out.append(row)
    return out


def totals(stages: list[dict], pred) -> dict[str, float]:
    """Sum FIELDS over the stages whose group satisfies `pred`."""
    out = {k: 0 for k in FIELDS}
    for s in stages:
        if s["group"] is not None and pred(s["group"]):
            for k in FIELDS:
                out[k] += s[k]
    return out
