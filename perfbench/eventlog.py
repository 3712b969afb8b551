"""Per-job-group totals from a Spark event log.

The traced run labels each layer prefix with ``setJobGroup``; this module
reads the JSON event log that ``SPARK_GRAFT_EVENTLOG`` makes the session
write and sums job, stage and task metrics per group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# job_wall_s: time in which at least one job of the group ran
FIELDS = ("jobs", "job_wall_s", "tasks", "run_s", "cpu_s", "gc_s",
          "shuffle_write_bytes", "shuffle_write_records",
          "shuffle_read_bytes", "spill_bytes")


def _events(log_dir: str):
    paths = []
    for base, _dirs, files in os.walk(log_dir):
        paths.extend(os.path.join(base, f) for f in files
                     if f.startswith("events_"))
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def group_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group id: {field: total}} for every labelled group."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FIELDS, 0.0))
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_start[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            out[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                spans[job_group[jid]].append(
                    (job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if group is None or not m:
                continue
            g = out[group]
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            g["tasks"] += 1
            g["run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for group, intervals in spans.items():
        out[group]["job_wall_s"] = _union_ms(intervals) / 1000.0
    return dict(out)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals: time in which at
    least one job of the group ran (jobs of one query can overlap)."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
