"""A small Spark event-log reader: jobs with their stages and task metrics.

Reads the uncompressed, unrolled JSON-lines log that
``spark.eventLog.enabled`` writes (one file per application) and keeps
what the per-layer report needs:

* per job: submission/completion time (epoch seconds), job group,
  description and stages;
* per stage: task count, task durations, and summed executor run time,
  executor CPU time, JVM GC time, shuffle read/write bytes and spill.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Stage:
    id: int
    tasks: int = 0
    task_s: list[float] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class Job:
    id: int
    start: float
    end: float
    group: str | None
    description: str | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def job_stages(self, job: Job) -> list[Stage]:
        """Stages that ran tasks for this job (skipped stages have none)."""
        return [self.stages[s] for s in job.stage_ids
                if s in self.stages and self.stages[s].tasks]


def _file(path: str) -> str:
    """The log file of the single application logged under ``path``."""
    apps = [p for p in glob.glob(os.path.join(path, "*"))
            if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise ValueError(f"expected one finished application log in {path}, found {apps}")
    return apps[0]


def read(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(_file(path)) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"] / 1000.0, 0.0,
                    props.get("spark.jobGroup.id"),
                    props.get("spark.job.description"), list(e["Stage IDs"]))
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                s = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                info = e["Task Info"]
                s.tasks += 1
                s.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                s.run_s += m["Executor Run Time"] / 1000.0
                s.cpu_s += m["Executor CPU Time"] / 1e9
                s.gc_s += m["JVM GC Time"] / 1000.0
                r = m["Shuffle Read Metrics"]
                s.shuffle_read += r["Remote Bytes Read"] + r["Local Bytes Read"]
                s.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                s.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return EventLog(jobs, stages)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
