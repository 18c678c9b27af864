"""Offline parser for a Spark event log (``spark.eventLog.enabled``).

The traced run writes the log to a local ``file:`` directory and parses
it after the session stops, so no UI or network is involved. Job groups
(``SparkContext.setJobGroup``) attribute every stage and task to the op
phase that launched it.
"""

from __future__ import annotations

import json
from collections import defaultdict

_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    "task_ms",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _empty() -> dict[str, int]:
    return dict.fromkeys(_COUNTERS, 0)


def parse(lines) -> tuple[dict[str, dict[str, int]], int]:
    """Aggregate task metrics per job group.

    ``lines`` is an iterable of JSON event lines. Returns
    ``(per_group, peak_heap_bytes)``: ``per_group`` maps each job-group id
    (``None`` for jobs launched outside a group) to summed counters, and
    ``peak_heap_bytes`` is the highest ``JVMHeapMemory`` any executor
    metrics record reported.
    """
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict[str, int]] = defaultdict(_empty)
    ran_stages: set[tuple[int, int]] = set()
    peak_heap = 0
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid)]
            key = (sid, ev.get("Stage Attempt ID", 0))
            if key not in ran_stages:
                ran_stages.add(key)
                g["stages"] += 1
            g["tasks"] += 1
            info = ev.get("Task Info") or {}
            g["task_ms"] += info.get("Finish Time", 0) - info.get("Launch Time", 0)
            m = ev.get("Task Metrics") or {}
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ns"] += m.get("Executor CPU Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            peak_heap = max(peak_heap, heap)
        elif kind == "SparkListenerStageExecutorMetrics":
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            peak_heap = max(peak_heap, heap)
    return dict(groups), peak_heap


def total(per_group: dict, keep) -> dict[str, int]:
    """Sum the counters of every group whose id satisfies ``keep``."""
    out = _empty()
    for group, counters in per_group.items():
        if group is not None and keep(group):
            for k, v in counters.items():
                out[k] += v
    return out
