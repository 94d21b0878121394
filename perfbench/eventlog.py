"""Reduce a Spark event log to task-metric totals per job group.

The benchmark tags every traced call with ``setJobGroup(<span id>)``;
the group rides on each ``SparkListenerJobStart`` as the
``spark.jobGroup.id`` property.  Stages map to the first job that lists
them, tasks to their stage, so each task's metrics land on exactly one
group.  Jobs submitted outside any span land on group ``None``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

COUNTERS = ("jobs", "tasks", "run_s", "shuffle_write_bytes", "spill_bytes", "input_bytes", "records_read")


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {path}")
    return sorted(files)


def reduce_event_log(path: str) -> dict[str | None, dict[str, float]]:
    """``{job group: {counter: total}}`` over every log file at ``path``
    (a file, or a directory holding one log per application)."""
    totals: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[tuple[str, int], str | None] = {}
    for f in _log_files(path):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((f, sid), group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    t = totals[stage_group.get((f, ev["Stage ID"]))]
                    t["tasks"] += 1
                    t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    inp = m.get("Input Metrics", {})
                    t["input_bytes"] += inp.get("Bytes Read", 0)
                    t["records_read"] += inp.get("Records Read", 0)
    return dict(totals)


def sum_groups(totals: dict, groups) -> dict[str, float]:
    """Counter totals over several job groups (e.g. every span of one name)."""
    out = dict.fromkeys(COUNTERS, 0)
    for g in groups:
        for k, v in totals.get(g, {}).items():
            out[k] += v
    return out
