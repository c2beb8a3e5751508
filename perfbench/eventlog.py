"""Per-phase Spark metrics from a Spark event log.

The benchmark sets a job group named after the phase (build, fold,
compact, batch, query, extract) around each call into the engine.
Stages map to the group named in their submission properties (or, for
logs without them, to the first job that lists the stage); task-end
events are summed per group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

METRICS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
           "jvm_gc_s", "shuffle_write_bytes", "shuffle_fetch_wait_s",
           "spill_bytes", "failed_tasks")


def _group(props) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def summarize(lines, phases) -> dict[str, dict[str, float]]:
    """phase -> metric -> value (every phase and metric present)."""
    out = {p: dict.fromkeys(METRICS, 0) for p in phases}
    stage_group: dict[int, str] = {}
    stages_run: dict[str, set] = defaultdict(set)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            if g in out:
                out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g not in out:
                continue
            o = out[g]
            stages_run[g].add(ev["Stage ID"])
            o["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                o["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                         or {}).get("Shuffle Bytes Written",
                                                    0)
            o["shuffle_fetch_wait_s"] += (m.get("Shuffle Read Metrics")
                                          or {}).get("Fetch Wait Time",
                                                     0) / 1e3
            o["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for g, sids in stages_run.items():
        out[g]["stages"] = len(sids)
    return out


def read_dir(log_dir: str, phases) -> dict[str, dict[str, float]]:
    """Summarize the single application log written under ``log_dir``
    (call after the session has stopped, so the log is complete)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    with open(files[0]) as f:
        return summarize(f, phases)
