"""Per-job-group Spark metrics from an event log.

The benchmark enables ``spark.eventLog.enabled`` for traced runs and runs
each measured section under its own job group, so the log's tasks can be
summed per section without the web UI.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def _zero() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "task_busy_s": 0.0,
        "sched_delay_s": 0.0,
        "gc_s": 0.0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "input_bytes": 0,
    }


def group_metrics(log_dir: str) -> dict[str, dict]:
    """job group → summed task metrics for every event log under
    ``log_dir`` (single files, or rolling ``eventlog_v2_*`` directories)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_zero)
    paths = sorted(
        os.path.join(d, name)
        for d, _, files in os.walk(log_dir)
        for name in files
        if not name.startswith((".", "appstatus"))  # skip checksums and status markers
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = out[stage_group.get(ev["Stage ID"], "")]
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    run_ms = tm.get("Executor Run Time", 0)
                    m["tasks"] += 1
                    m["failed_tasks"] += bool(info.get("Failed"))
                    m["task_busy_s"] += run_ms / 1000
                    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    overhead = (
                        run_ms
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    m["sched_delay_s"] += max(0, wall_ms - overhead) / 1000
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    return dict(out)
