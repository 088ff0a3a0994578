"""Self-test of the benchmark's instrumentation (about 30 s):

    python3 perfbench/selftest.py

1. The event-log parser on a hand-written log: a driver gap between two
   jobs, a job whose end event is missing, jobs outside the span.
2. The parser against Spark itself: a two-job query under one span on
   ``local[2]`` with the event log on; the parser must find exactly the jobs
   Spark's status tracker reports for the span's job group, non-zero task
   time and shuffle bytes, and a driver gap no larger than the span.
3. ``procstat`` sees the JVM under this process and its CPU time grows.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def synthetic() -> None:
    from perfbench.eventlog import SPAN_PROPERTY, parse_lines

    def job(jid, t0, stages, span="s"):
        return {
            "Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t0, "Stage IDs": stages,
            "Properties": {SPAN_PROPERTY: span},
        }

    def task(sid, run_ms, finish, shuffle=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Finish Time": finish, "Failed": False},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
                "Input Metrics": {"Bytes Read": 7},
                "Output Metrics": {"Bytes Written": 0},
            },
        }

    def stage(sid, span="s"):
        return {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid},
            "Properties": {SPAN_PROPERTY: span},
        }

    events = [
        # span s runs from 1000 to 2000 ms
        job(0, 1100, [0]), stage(0), task(0, 150, 1250, shuffle=100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
        # job 1 overlaps job 0's tail; its end event is missing, so it ends
        # at its last task (1600)
        job(1, 1250, [1]), stage(1), task(1, 300, 1600),
        # another span's job is not counted
        job(2, 1700, [2], span="other"), stage(2, span="other"), task(2, 999, 1800),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1800},
    ]
    log = parse_lines(json.dumps(e) for e in events)
    got = log.span_summary("s", 1000, 2000)
    check(got["jobs"] == 2, "synthetic: two jobs in the span")
    # covered = [1100, 1600] = 500 ms of a 1000 ms span
    check(abs(got["driver_gap_s"] - 0.5) < 1e-9, "synthetic: driver gap 0.5 s")
    check(abs(got["task_s"] - 0.45) < 1e-9, "synthetic: task time 0.45 s")
    check(got["shuffle_write_bytes"] == 100, "synthetic: shuffle bytes")
    check(got["spill_bytes"] == 10, "synthetic: spill bytes")
    check(got["input_bytes"] == 14, "synthetic: input bytes")


def live() -> None:
    work = os.path.join(ROOT, "perfbench", "_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "events"))
    try:
        _live(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _live(work: str) -> None:
    from pyspark.sql import SparkSession

    from perfbench import eventlog, procstat
    from perfbench.eventlog import SPAN_PROPERTY
    from perfbench.run import stop_session

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", os.path.join(work, "events"))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        cpu0 = procstat.cpu_seconds(os.getpid())
        sc.setJobGroup("selftest", "two-job query")
        sc.setLocalProperty(SPAN_PROPERTY, "q")
        t0 = time.time()
        # a two-job query: the sort samples its input in a first job
        # (range partitioning), then shuffles and collects in a second
        rows = (
            spark.range(0, 20000, 1, 4)
            .selectExpr("(id * 7919) % 20000 AS v")
            .orderBy("v")
            .collect()
        )
        t1 = time.time()
        sc.setLocalProperty(SPAN_PROPERTY, None)
        expected_jobs = set(sc.statusTracker().getJobIdsForGroup("selftest"))
        cpu1 = procstat.cpu_seconds(os.getpid())
        check(len(rows) == 20000, "live: query result")
        jvm = [c for c, _ in procstat.tree(os.getpid()).values() if c == "java"]
        check(len(jvm) == 1, "procstat: one JVM under this process")
        check(cpu1["jvm"] > cpu0["jvm"], "procstat: JVM CPU time grows")
    finally:
        stop_session(spark)
    log = eventlog.parse_dir(os.path.join(work, "events"))
    got = log.span_summary("q", t0 * 1000, t1 * 1000)
    found = {j.job_id for j in log.jobs.values() if j.span == "q"}
    check(len(expected_jobs) == 2, "live: Spark ran two jobs for the query")
    check(found == expected_jobs, "live: parser finds exactly those jobs")
    check(got["task_s"] > 0, "live: task time > 0")
    check(got["shuffle_write_bytes"] > 0, "live: shuffle bytes > 0")
    check(0 <= got["driver_gap_s"] <= t1 - t0, "live: driver gap within the span")
    left = procstat.tree(os.getpid()).keys() - {os.getpid()}
    check(not left, "stop_session: no process left")


def main() -> int:
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    synthetic()
    live()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
