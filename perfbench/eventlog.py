"""Stdlib-only reader for Spark's JSON event log.

Groups jobs, stages and tasks by the job group each unit of the
benchmark runs under (``SparkContext.setJobGroup``) and sums the task
metrics the ``spark.*`` per-layer figures are made of. The log must be
written uncompressed (``spark.eventLog.compress=false``).

Usage: ``python3 perfbench/eventlog.py LOG_FILE_OR_DIR`` prints the
per-group totals as JSON.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

#: SQL metrics that count bytes crossing the JVM / Python-worker boundary.
PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")

#: Summed counters, in the order they are reported.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_failures",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes",
)


def log_files(path: str) -> list[str]:
    """The event files under ``path``: the file itself, or a rolling
    (v2) log directory's ``events_<n>_*`` parts in order."""
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith("events_") or name.startswith("local-"):
                found.append(os.path.join(root, name))

    def part(p: str) -> tuple:
        bits = os.path.basename(p).split("_")
        return (os.path.dirname(p), int(bits[1]) if len(bits) > 1 and bits[1].isdigit() else 0)

    return sorted(found, key=part)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
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


def parse(path: str) -> dict[str, dict]:
    """Job group -> {counter: value, "stage_intervals": [(start_s, end_s)]}.

    Jobs started outside any job group land under ``""``. Stage
    intervals are epoch seconds (submission to completion)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {**{c: 0 for c in COUNTERS}, "stage_intervals": []}
    )
    for file in log_files(path):
        with open(file, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group]["jobs"] += 1
                    for sid in event.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = event["Stage Info"]
                    g = groups[stage_group.get(info["Stage ID"], "")]
                    g["stages"] += 1
                    start, end = info.get("Submission Time"), info.get("Completion Time")
                    if start is not None and end is not None:
                        g["stage_intervals"].append((start / 1000.0, end / 1000.0))
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in PYTHON_BYTE_METRICS:
                            g["python_bytes"] += int(acc.get("Value") or 0)
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(event["Stage ID"], "")]
                    g["tasks"] += 1
                    if (event.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["task_failures"] += 1
                    m = event.get("Task Metrics") or {}
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    read = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                        "Local Bytes Read", 0
                    )
                    write = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(groups)


def group_metrics(group: dict, window: tuple[float, float] | None = None) -> dict:
    """Counters of one group plus ``stage_span_s`` (union of its stage
    intervals) and, given the unit's (start, end) ``window``,
    ``driver_gap_s``: the unit's wall time no stage was running."""
    out = {c: group[c] for c in COUNTERS}
    spans = group["stage_intervals"]
    if window is not None:
        lo, hi = window
        spans = [(max(s, lo), min(e, hi)) for s, e in spans if e > lo and s < hi]
        out["driver_gap_s"] = (hi - lo) - union_seconds(spans)
    out["stage_span_s"] = union_seconds(spans)
    return out


def main() -> None:
    groups = parse(sys.argv[1])
    print(json.dumps({g: group_metrics(v) for g, v in groups.items()}, indent=1))


if __name__ == "__main__":
    main()
