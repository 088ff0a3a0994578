"""Parser for Spark's JSON event log, summarised per benchmark span.

The benchmark tags every job it causes with the local property
:data:`SPAN_PROPERTY` (``sc.setLocalProperty``); Spark copies local
properties into each ``SparkListenerJobStart`` and
``SparkListenerStageSubmitted`` event, so jobs, stages and their tasks can be
attributed to the span that was open when they ran.

Per span it reports jobs, driver-gap seconds (span wall not covered by any of
its jobs), summed executor run time, and shuffle-write, spill, input and
output bytes. Reads an uncompressed log (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Job:
    job_id: int
    span: str | None
    start_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    span: str | None = None
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    last_finish_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)

    def add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                props.get(SPAN_PROPERTY),
                ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties") or {}
            self.stages.setdefault(sid, StageTotals()).span = props.get(
                SPAN_PROPERTY
            )
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(ev["Stage ID"], StageTotals())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st.last_finish_ms = max(st.last_finish_ms, info.get("Finish Time", 0))
            st.run_ms += m.get("Executor Run Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )

    def job_end_ms(self, job: Job) -> int:
        """Completion time; for a job whose end event is missing (a log cut
        short), the last finish among its stages' tasks, else its start."""
        if job.end_ms is not None:
            return job.end_ms
        finishes = [
            self.stages[s].last_finish_ms for s in job.stage_ids if s in self.stages
        ]
        return max([job.start_ms, *finishes])

    def span_summary(self, span: str, start_ms: float, end_ms: float) -> dict:
        """Totals of the jobs and stages tagged ``span``, whose wall clock
        ran from ``start_ms`` to ``end_ms`` (epoch milliseconds)."""
        jobs = sorted(
            (j for j in self.jobs.values() if j.span == span),
            key=lambda j: j.start_ms,
        )
        # union of the job intervals, clipped to the span
        covered = 0.0
        cur_lo = cur_hi = None
        for j in jobs:
            lo = max(j.start_ms, start_ms)
            hi = min(self.job_end_ms(j), end_ms)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        stages = [s for s in self.stages.values() if s.span == span]
        return {
            "jobs": len(jobs),
            "driver_gap_s": max(end_ms - start_ms - covered, 0.0) / 1000,
            "task_s": sum(s.run_ms for s in stages) / 1000,
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "spill_bytes": sum(s.spill_bytes for s in stages),
            "input_bytes": sum(s.input_bytes for s in stages),
            "output_bytes": sum(s.output_bytes for s in stages),
        }


def parse_lines(lines, log: EventLog | None = None) -> EventLog:
    """Add every JSON event line to ``log`` (a new one by default)."""
    log = log if log is not None else EventLog()
    for line in lines:
        line = line.strip()
        if line:
            log.add(json.loads(line))
    return log


def parse_dir(log_dir: str) -> EventLog:
    """Parse every application log in ``log_dir``: single-file logs, and the
    ``eventlog_v2_*/events_*`` parts of rolling logs."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    parts = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    # rolling parts are numbered events_<n>_<app>: read them in order
    parts.sort(
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1]))
    )
    log = EventLog()
    for path in sorted(paths) + parts:
        with open(path) as f:
            parse_lines(f, log)
    return log
