"""Spark event-log reader: jobs, stages and task metrics from the JSON-lines
file Spark writes when ``spark.eventLog.enabled`` is set. Stdlib only, so the
numbers need neither the Spark UI (the program's session turns it off) nor a
history server.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    @property
    def skew(self) -> float:
        """Longest task over the median task (the DS2 skew signal)."""
        if not self.task_ms:
            return 0.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1.0)


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    group: str | None
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Every job in the one application log under ``log_dir``, with the
    stages that ran tasks for it (a stage shared by several jobs belongs to
    the last one submitted before the stage itself was)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"], props.get(JOB_GROUP),
                    list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submitted_ms = info.get("Submission Time") or 0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    for st in stages.values():
        if not st.task_ms:
            continue
        owners = [
            j for j in jobs.values()
            if st.stage_id in j.stage_ids and j.submitted_ms <= st.submitted_ms
        ]
        if owners:
            max(owners, key=lambda j: (j.submitted_ms, j.job_id)).stages.append(st)
    return sorted(jobs.values(), key=lambda j: j.job_id)
