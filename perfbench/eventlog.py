"""Spark event-log reader: per-job-group jobs, tasks and bytes.

The traced run tags every CLI stage with ``setJobGroup`` and writes an
uncompressed, non-rolling event log (one JSON object per line).  Each
stage's ``SparkListenerStageSubmitted`` carries the job group in its
properties, so every task end is attributed to the group whose job ran
it.  Only the standard library is needed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    """What one job group cost, summed over its tasks."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    result_bytes: int = 0
    # (submission, completion) epoch milliseconds per job
    job_spans: list = field(default_factory=list)

    def busy_ms_within(self, start_ms: float, end_ms: float) -> float:
        """Milliseconds of [start_ms, end_ms] covered by at least one job."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms))
            for s, e in self.job_spans
            if e > start_ms and s < end_ms
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Aggregate an event log by job group (ungrouped work is keyed "")."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    groups: dict[str, GroupStats] = {}

    def group(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                job_group[ev["Job ID"]] = name
                job_submit[ev["Job ID"]] = ev["Submission Time"]
                group(name).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, name)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                group(job_group.get(jid, "")).job_spans.append(
                    (job_submit.get(jid, ev["Completion Time"]),
                     ev["Completion Time"])
                )
            elif kind == "SparkListenerStageSubmitted":
                name = (ev.get("Properties") or {}).get(GROUP_KEY)
                if name is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = name
            elif kind == "SparkListenerTaskEnd":
                g = group(stage_group.get(ev["Stage ID"], ""))
                g.tasks += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                g.task_s += m.get("Executor Run Time", 0) / 1000.0
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.result_bytes += m.get("Result Size", 0)
                g.shuffle_write_bytes += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
    return groups
