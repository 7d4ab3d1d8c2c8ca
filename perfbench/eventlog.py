"""Per-job-group totals from a Spark event log.

The traced run sets ``sc.setJobGroup(<layer>)`` around each call into a
layer.  Spark stamps the group on every job it starts
(``spark.jobGroup.id`` in the job's properties); this parser maps stages to
jobs to groups and sums the task-end metrics of each group.  The log must be
written uncompressed and unrolled (see ``EVENTLOG_CONF``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# name -> unit of every per-group metric, in report order
GROUP_METRICS = {
    "spark_jobs": "count",
    "tasks": "count",
    "task_busy_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "failed_tasks": "count",
}

MB = 1024 * 1024


def parse(log_dir: Path) -> dict[str, dict[str, float]]:
    """``{group: {metric: value}}`` over every finished app log in
    ``log_dir``; jobs started outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(GROUP_METRICS, 0.0))
    for path in sorted(p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")):
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    totals[group]["spark_jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    _add_task(totals[stage_group.get(ev["Stage ID"], "")], ev)
    return {g: dict(m) for g, m in totals.items()}


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev["Task Info"]
    acc["tasks"] += 1
    acc["task_busy_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    acc["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
