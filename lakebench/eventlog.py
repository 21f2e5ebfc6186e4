"""Fold a Spark event log into per-job-group totals.

Pure functions over already-parsed listener events (one JSON object per
line of an uncompressed, non-rolling event log). A job belongs to the
group in its `spark.jobGroup.id` property; Structured Streaming sets
that property to the query's run id, so `run_groups` maps a run id to
the group its stream should count under.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

UNGROUPED = "-"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def job_s(self) -> float:
        """Seconds covered by at least one job of the group (overlapping
        jobs count once)."""
        return union_ms(self.intervals) / 1000.0


def union_ms(intervals: Iterable[tuple[int, int]]) -> int:
    """Total length of the union of closed [start, end] intervals."""
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


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def summarize(
    events: Iterable[dict], run_groups: dict[str, str] | None = None
) -> dict[str, GroupStats]:
    """Jobs, tasks, job time, shuffle-write and spill bytes per group.

    Jobs without a group land under UNGROUPED. A job still running when
    the log ends has no interval and adds nothing to `job_s`."""
    run_groups = run_groups or {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def stats(group: str) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or UNGROUPED
            group = run_groups.get(group, group)
            job = ev["Job ID"]
            job_group[job] = group
            job_start[job] = ev["Submission Time"]
            for stage in ev.get("Stage IDs", []):
                stage_group[stage] = group
            stats(group).jobs += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_start:
                stats(job_group[job]).intervals.append(
                    (job_start[job], ev["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            s = stats(stage_group.get(ev["Stage ID"], UNGROUPED))
            s.tasks += 1
            metrics = ev.get("Task Metrics") or {}
            s.shuffle_write_bytes += (
                metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            s.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
    return out
