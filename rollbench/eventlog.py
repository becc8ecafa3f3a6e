"""Per-job Spark metrics from an uncompressed, non-rolling event log.

Standard library only: the log is one JSON object per line.  Jobs are
keyed by the span label the tracer sets as a local property
(``spans.LABEL_PROP``) and by submission time, so each job maps back to
the traced op that started it.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from spans import LABEL_PROP


@dataclass
class Stage:
    id: int
    run_ms: list = field(default_factory=list)  # executor run time per task
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class Job:
    id: int
    label: str | None
    submitted_ms: int
    stage_ids: list


def parse(lines) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs (with label and submission time) and per-stage task totals.
    Only successful task attempts count; skipped stages have no tasks."""
    jobs, stages = [], {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append(
                Job(ev["Job ID"], props.get(LABEL_PROP), ev["Submission Time"], ev["Stage IDs"])
            )
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.run_ms.append(m.get("Executor Run Time", 0))
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return jobs, stages


def summarize(jobs: list[Job], stages: dict[int, Stage], skew_label: str) -> dict[str, float]:
    """Engine totals over the given jobs, plus ``task_skew``: max ÷ median
    task run time in the heaviest stage (largest summed run time) of the
    jobs labeled ``skew_label`` (all jobs when none is), the straggler
    ratio of the stage that sets that write's critical path."""

    def stages_of(js):
        return [stages[s] for j in js for s in j.stage_ids if s in stages]

    sts = stages_of(jobs)
    labeled = stages_of([j for j in jobs if j.label == skew_label]) or sts
    heavy = max(labeled, key=lambda s: sum(s.run_ms), default=None)
    skew = 0.0
    if heavy is not None and heavy.run_ms:
        med = statistics.median(heavy.run_ms)
        skew = max(heavy.run_ms) / med if med > 0 else 1.0
    return {
        "jobs": len(jobs),
        "tasks": sum(len(s.run_ms) for s in sts),
        "executor_run_s": sum(sum(s.run_ms) for s in sts) / 1000.0,
        "gc_s": sum(s.gc_ms for s in sts) / 1000.0,
        "shuffle_write_bytes": sum(s.shuffle_write for s in sts),
        "shuffle_read_bytes": sum(s.shuffle_read for s in sts),
        "spill_bytes": sum(s.spill for s in sts),
        "task_skew": skew,
    }


def jobs_in(jobs: list[Job], start_s: float, end_s: float) -> list[Job]:
    """Jobs submitted inside the wall-clock window (seconds since epoch)."""
    return [j for j in jobs if start_s * 1000 <= j.submitted_ms <= end_s * 1000]
