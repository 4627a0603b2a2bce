"""Counters from outside the engine: Spark job/stage/task counts per op (the
status tracker, one job group per op), per-op executor metrics from the Spark
event log, and CPU and peak memory of the whole process tree from /proc.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from spans import union_length


def status_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under one job group, read from the
    status tracker right after the group's last job ended.

    A stage listed by several jobs of the group is counted once, and a stage
    a job lists but skips (its shuffle output is reused) ran no task and is
    not counted. Raises LookupError when the status store no longer holds a
    job or stage of the group, rather than undercount it."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_tasks: dict[int, int] = {}
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is None:
            raise LookupError(f"job {job_id} of group {group} evicted from the status store")
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is None:
                raise LookupError(
                    f"stage {stage_id} of group {group} evicted from the status store"
                )
            if st.numCompletedTasks > 0:
                stage_tasks[stage_id] = st.numCompletedTasks
    return {"jobs": len(job_ids), "stages": len(stage_tasks),
            "tasks": sum(stage_tasks.values())}


@dataclass
class GroupMetrics:
    """Executor-side totals of the jobs of one job group."""

    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_intervals: list[tuple[float, float]] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``,
    whether Spark wrote one file or a rolling ``eventlog_v2_*`` directory."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )

    def order(path: str):
        base = os.path.basename(path)
        if base.startswith("events_"):
            return int(base.split("_")[1])
        return 0

    events = []
    for path in sorted(files, key=order):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def parse_events(events: list[dict]) -> dict[str, GroupMetrics]:
    """Per job group: executor CPU and GC time, shuffle bytes written, disk
    spill, and each completed stage's [submission, completion] interval in
    epoch seconds. Job, stage and task counts come from the status tracker
    (``status_counts``)."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None or "Submission Time" not in info:
                continue
            out[group].stage_intervals.append(
                (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
            )
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            gm = out[group]
            gm.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            gm.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
            gm.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
            sw = metrics.get("Shuffle Write Metrics") or {}
            gm.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return dict(out)


def driver_gap_s(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Wall time of ``window`` during which no stage was active: the share
    of an op spent in the driver (planning, scheduling, Python)."""
    lo, hi = window
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
    return (hi - lo) - union_length(clipped)


# -- process tree -------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the Python
    driver, the JVM and any Python workers."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _CLK_TCK


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum over the given processes of each one's peak resident set
    (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
