"""Spark event-log parsing: per-span task counters.

The traced run tags every job with ``SparkContext.setJobGroup(<span>)`` and
writes an uncompressed event log. This module reads that log back and sums
task metrics per job group, and splits one group's jobs into sub-spans at
named call sites.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Task:
    stage_id: int
    run_ms: int
    gc_ms: int
    shuffle_bytes: int
    spill_bytes: int
    records_read: int
    failed: bool


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]
    stage_group: dict[int, str | None]

    def job_tasks(self, jobs: list[Job]) -> list[Task]:
        stages = {s for j in jobs for s in j.stage_ids}
        return [t for t in self.tasks if t.stage_id in stages]

    def group_tasks(self, group: str) -> list[Task]:
        return [t for t in self.tasks if self.stage_group.get(t.stage_id) == group]

    def group_jobs(self, group: str) -> list[Job]:
        return [j for j in self.jobs if j.group == group]


def counters(tasks: list[Task]) -> dict[str, float]:
    """The six per-span counters over a set of tasks."""
    return {
        "tasks": len(tasks),
        "exec_s": sum(t.run_ms for t in tasks) / 1000.0,
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "failed_tasks": sum(t.failed for t in tasks),
    }


def find_log(event_dir: str) -> str:
    """The single application log in ``event_dir`` (finished or in progress)."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(paths)}")
    return paths[0]


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    stage_group: dict[int, str | None] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or []
                # the result stage (highest id) is named after the job's call site
                last = max(infos, key=lambda s: s["Stage ID"], default={})
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    call_site=last.get("Stage Name", ""),
                    stage_ids=list(ev.get("Stage IDs") or []),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev.get("Completion Time", 0)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                tasks.append(
                    Task(
                        stage_id=ev["Stage ID"],
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                        records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
                        failed=reason != "Success",
                    )
                )
    return EventLog(
        jobs=sorted(jobs.values(), key=lambda j: j.job_id),
        tasks=tasks,
        stage_group=stage_group,
    )


def split_at(jobs: list[Job], markers: list[str]) -> list[list[Job]] | None:
    """Split jobs (in submission order) into ``len(markers) + 1`` runs: run
    ``i`` ends with the first job after run ``i - 1`` whose call site
    contains ``markers[i]``. ``None`` if a marker is not found."""
    parts, cur, k = [], [], 0
    for j in jobs:
        cur.append(j)
        if k < len(markers) and markers[k] in j.call_site:
            parts.append(cur)
            cur, k = [], k + 1
    if k < len(markers):
        return None
    parts.append(cur)
    return parts
