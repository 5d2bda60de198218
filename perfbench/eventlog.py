"""Stdlib-only reader for one uncompressed Spark event log.

Turns the JSON-lines log that ``spark.eventLog.enabled=true`` with
``spark.eventLog.compress=false`` writes into a per-job-group table:

    jobs, stages, tasks, executor_run_s, executor_cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, python_udf_s

plus the list of stage intervals each group ran, from which a caller
that knows the group's wall time derives the driver gap (wall minus the
union of stage intervals). ``python_udf_s`` sums the SQL-node metric
"time to run Python workers" that Spark's Python/Arrow operators carry
in their task accumulables.

A job's group is its ``spark.jobGroup.id`` property. Jobs started by a
thread the caller does not control (a streaming query's micro-batches
carry the query's run id as their group) are attributed by time
instead: the caller passes the wall-clock interval of each of its own
groups and such a job goes to the group whose interval holds its
submission time.

Usage: python3 perfbench/eventlog.py <event-log-file-or-directory>
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_udf_s",
)
PYTHON_TIME_METRIC = "time to run Python workers"
UNGROUPED = "(none)"


def log_files(path: str) -> list[str]:
    """The event files of one log: ``path`` itself, or for a log
    directory (``eventlog_v2_<app>``) its ``events_<n>_<app>`` parts in
    order."""
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str):
    """Yield each event of the log as a dict; a torn last line (log
    still being written) is skipped."""
    for part in log_files(path):
        with open(part, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _group_for(job_group: str | None, submit_ms: float | None,
               intervals: list[tuple[float, float, str]]) -> str:
    names = {g for _, _, g in intervals}
    if job_group in names:
        return job_group
    if submit_ms is not None:
        for lo, hi, g in intervals:
            if lo <= submit_ms <= hi:
                return g
    return job_group or UNGROUPED


def summarize(path: str, intervals: list[tuple[float, float, str]] | None = None) -> dict[str, dict]:
    """Per-group counters plus ``stage_intervals`` (epoch ms pairs).

    ``intervals`` holds ``(start_ms, end_ms, group)`` for the caller's
    own groups, used to attribute jobs whose group it did not set."""
    intervals = sorted(intervals or [])
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {**{c: 0.0 for c in COUNTERS}, "stage_intervals": []})
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = _group_for(props.get("spark.jobGroup.id"), ev.get("Submission Time"), intervals)
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            group = stage_group.get(info.get("Stage ID"), UNGROUPED)
            row = out[group]
            row["stages"] += 1
            lo, hi = info.get("Submission Time"), info.get("Completion Time")
            if lo is not None and hi is not None:
                row["stage_intervals"].append((float(lo), float(hi)))
        elif kind == "SparkListenerTaskEnd":
            row = out[stage_group.get(ev.get("Stage ID"), UNGROUPED)]
            row["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME_METRIC:
                    # a timing SQL metric: task updates are milliseconds
                    row["python_udf_s"] += float(acc.get("Update", 0) or 0) / 1e3
    return dict(out)


def union_seconds(spans: list[tuple[float, float]], lo: float | None = None, hi: float | None = None) -> float:
    """Length in seconds of the union of ``(start_ms, end_ms)`` spans,
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for a, b in spans:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    table = summarize(argv[1])
    print("group\t" + "\t".join(COUNTERS) + "\tstage_union_s")
    for group in sorted(table):
        row = table[group]
        cells = [f"{row[c]:.6g}" for c in COUNTERS]
        print(f"{group}\t" + "\t".join(cells) + f"\t{union_seconds(row['stage_intervals']):.6g}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
