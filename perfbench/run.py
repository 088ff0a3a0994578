"""Deploy-path benchmark: pages -> entities -> triples on ``local[nproc]``.

    python3 perfbench/run.py --workload ner_dense --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 0 --seconds 10 --trace 1

One process, one client, closed loop. Set-up is the session start, a
Python-worker warm-up job, the seeded input table and one untimed warm
build of the whole table; then builds run back to back until their summed
wall reaches ``--seconds``. Every build's output is checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the Spark
event log on, runs the same builds layer by layer under spans, and reports
per-layer metrics; on a workload with ``durable_pages`` it then runs the
deploy's durable path (committed report and KG, then a resume) on that many
of its pages. ``--workload all`` runs each workload in its own process and
prints their summary lines.

The last stdout line is the JSON result; the line before it is a readable
summary with units. Work files go to ``perfbench/_work`` and are removed;
trace files go to ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SEED = 0
MAX_ERROR_LINES = 10
_ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")
ENTITY_COLS = ["url", "label", "text", "start", "end", "l_context", "r_context"]

LAYERS = [
    "session", "pipeline", "tagger", "kg.mentions", "kg.edges",
    "kg.components", "kg.canonical", "kg.triples", "checkpoint",
    "checkpoint_kg",
]
KG_STAGES = ["mentions", "edges", "components", "canonical", "triples"]

_COMMON = [
    ("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"), ("task_s", "s"),
    ("py_cpu_s", "s"), ("jvm_cpu_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("rows_out", "rows"),
]
# the session layer runs one warm-up job: no shuffle, spill or output rows
_SESSION = ("wall_s", "jobs", "task_s", "py_cpu_s", "jvm_cpu_s")
LAYER_UNITS = {
    f"{layer}.{k}": u
    for layer in LAYERS
    for k, u in _COMMON
    if layer != "session" or k in _SESSION
}
LAYER_UNITS.update(
    {
        "kg.edges.candidate_pairs": "count",
        "kg.edges.keep_ratio": "ratio",
        "checkpoint.commits": "count",
        "checkpoint.write_mb": "MB",
        "checkpoint.scan_amplification": "ratio",
        "checkpoint.resume_s": "s",
        **{f"checkpoint_kg.{st}_s": "s" for st in KG_STAGES},
        "spark_error_lines": "count",
        "tracing_overhead_s": "s",
        "trace.layer_share": "ratio",
    }
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _ident(batches):
    yield from batches


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from perfbench import inputs

        self.w = inputs.WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.pages_path = os.path.join(work, "pages")
        self.log_path = os.path.join(work, "spark.log")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.exp_digest = None
        self.mentions = None  # the last traced build's mentions

    def record(self, what: str, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            self.failures.append(what)
            log(f"{what} failed: {bad}")

    # -- session -----------------------------------------------------------

    def start_session(self, tracer, span):
        """The Spark session, with one job that starts a Python worker on
        every core; its jobs are tagged with ``span``."""
        from ner_backend_spark.spark.session import get_spark

        # the driver heap is spark-submit's default 1 GB, as the deploy
        # runs; pinning its minimum too keeps peak RSS repeatable (a heap
        # that grows on demand varied peak RSS by ~10% between runs)
        conf = {
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": "-Xms1g -Djava.io.tmpdir="
            + os.path.join(self.work, "tmp"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "events"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.work, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        # the JVM, and the Python workers it forks, inherit fd 2: point it at
        # a file while the JVM starts so that Spark's ERROR lines are kept
        saved = os.dup(2)
        log_fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        os.dup2(log_fd, 2)
        try:
            spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)
            os.close(log_fd)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.sc = spark.sparkContext
            tracer.tag(span)
            n = 4 * self.cores
            spark.range(0, n, 1, n).mapInPandas(_ident, "id long").write.format(
                "noop"
            ).mode("overwrite").save()
        except BaseException:
            stop_session(spark)
            raise
        return spark

    def error_lines(self) -> tuple[int, list[str]]:
        """(ERROR line count, the first distinct ones verbatim); lines that
        differ only in digits count as one."""
        n, seen, first = 0, set(), []
        with open(self.log_path, errors="replace") as f:
            for line in f:
                if _ERROR_LINE.match(line):
                    n += 1
                    key = re.sub(r"\d+", "#", line[18:])
                    if key not in seen and len(first) < MAX_ERROR_LINES:
                        seen.add(key)
                        first.append(line.rstrip("\n"))
        return n, first

    # -- expected outputs and checks ---------------------------------------

    def expect_sample(self, page_rows) -> None:
        """Entities of a fixed url sample, from ``core.inference``."""
        from perfbench import checks, deploy, inputs

        self.sample = inputs.sample_urls(page_rows)
        text = {r[0]: r[3] for r in page_rows}
        self.exp_sample, _ = checks.report(
            [(u, text[u]) for u in self.sample], deploy.CONFIG
        )

    def python_digest(self, entities) -> tuple[int, int]:
        """Digest of the triples recomputed in Python from a build's
        entities (themselves checked on the url sample)."""
        from perfbench import checks, deploy

        ents = _rows(entities, ["url", "label", "text"])
        return checks.digest(checks.triples(ents, None, deploy.ALIAS))

    def check_pages(self, spark, path: str) -> list[str]:
        from ner_backend_spark.spark import pipeline

        pages = pipeline.extract_text(spark.read.parquet(path))
        ok = pipeline.text_invariant_violations(pages).isEmpty()
        return [] if ok else ["text_invariant_violations"]

    def check_build(self, spark, entities, digest) -> list[str]:
        """Checks of a build over the whole input. The first one fixes the
        expected digest; with the default seed it must equal the recorded
        one."""
        from pyspark.sql import functions as F

        if self.exp_digest is None:
            self.exp_digest = self.python_digest(entities)
            if self.seed == DEFAULT_SEED:
                with open(os.path.join(ROOT, "perfbench", "digests.json")) as f:
                    recorded = json.load(f).get(self.w.name)
                if recorded is not None and tuple(recorded) != self.exp_digest:
                    return ["recorded_digest"]
        bad = self.check_pages(spark, self.pages_path)
        sample = entities.filter(F.col("url").isin(self.sample))
        if _rows(sample, ENTITY_COLS) != self.exp_sample:
            bad.append("entities")
        if tuple(digest) != self.exp_digest:
            bad.append("triples")
        return bad

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        from perfbench import procstat
        from perfbench.trace import Tracer

        root = os.getpid()
        tracer = Tracer(root)
        steal0 = procstat.steal_seconds()
        with procstat.PeakRss(root) as rss:
            t0 = time.monotonic()
            with tracer.span("session") as s:
                spark = self.start_session(tracer, s)
            try:
                setup_s, walls, extra = self.measure(spark, tracer, t0, s)
                n_err, err_lines = self.error_lines()
            finally:
                stop_session(spark)
        pages_per_s = self.w.n_pages / _median(walls) if walls else 0.0
        print(
            f"{self.w.name} seed={self.seed}: pages_per_s={pages_per_s:.1f} pages/s"
            f" setup_s={setup_s:.2f} s peak_rss_mb={rss.peak / 1e6:.0f} MB"
            f" error_rate={len(self.failures) / self.attempted:.3f}"
            f" ({len(self.failures)}/{self.attempted} failed)"
            + (
                f" resume_s={extra['resume_s']:.2f} s"
                if "resume_s" in extra
                else ""
            )
            + f" builds={len(walls)} spark_error_lines={n_err}"
            + f" host_steal_s={procstat.steal_seconds() - steal0:.1f}"
        )
        if self.trace:
            metrics = self.layer_metrics(tracer, extra, n_err)
            self.write_trace(tracer, metrics, extra, n_err, err_lines)
        else:
            metrics = {
                "pages_per_s": {"value": pages_per_s, "unit": "pages/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
            }
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def measure(self, spark, tracer, t0, session_span):
        """Input table, warm build (the rest of set-up), then the timed
        builds. Returns (setup_s, timed build walls, traced extras)."""
        from perfbench import deploy, inputs

        page_rows = inputs.rows(self.w, self.seed)
        inputs.write_pages(self.pages_path, page_rows)
        aliases = deploy.alias_df(spark)
        # the warm build is a full one: every layer's code runs once (JIT,
        # codegen, worker-side model compile), so the timed builds that
        # follow are steady; a warm build on part of the table costs as
        # much and left the first full build ~15% slower than the rest
        # (4 cores)
        entities, digest = deploy.volatile_build(spark, self.pages_path, aliases)
        setup_s = time.monotonic() - t0
        log(f"setup {setup_s:.2f} s (session {session_span.wall_s:.2f} s)")
        self.expect_sample(page_rows)
        self.record("warm build", self.check_build(spark, entities, digest))
        log(f"warm build checked at {time.monotonic() - t0:.2f} s")

        walls = self.timed_builds(spark, aliases, tracer)
        extra = {}
        if self.trace:
            extra = self.traced_extras(spark, aliases, walls, tracer, page_rows)
        return setup_s, walls, extra

    def timed_builds(self, spark, aliases, tracer) -> list[float]:
        """Checked builds until their walls sum to ``seconds``; a build that
        raises counts as failed. Returns the walls of the builds that ran."""
        from perfbench import deploy

        walls: list[float] = []
        b = 0
        # stops early once failed builds outnumber good ones two to one
        while sum(walls) < self.seconds and b < 3 * (len(walls) + 1):
            t0 = time.monotonic()
            try:
                if self.trace:
                    tracer.build = b
                    with tracer.span("build"):
                        entities, digest, self.mentions = deploy.traced_volatile_build(
                            spark, self.pages_path, aliases, tracer.span
                        )
                else:
                    entities, digest = deploy.volatile_build(
                        spark, self.pages_path, aliases
                    )
                wall = time.monotonic() - t0
                bad = self.check_build(spark, entities, digest)
            except Exception as exc:  # counted as a failed build
                self.record(f"build {b}", [f"{type(exc).__name__}: {exc}"])
                continue
            finally:
                tracer.build = None
                b += 1
            walls.append(wall)
            log(f"build {b - 1}: {wall:.2f} s")
            self.record(f"build {b - 1}", bad)
        return walls

    # -- traced run --------------------------------------------------------

    def traced_extras(self, spark, aliases, traced_walls, tracer, page_rows) -> dict:
        """What the traced run measures outside the traced builds: one plain
        build (for the tracing overhead), the LSH candidate pairs, and the
        durable deploy when the workload has ``durable_pages``."""
        from perfbench import deploy

        t0 = time.monotonic()
        entities, digest = deploy.volatile_build(spark, self.pages_path, aliases)
        plain_wall_s = time.monotonic() - t0
        pairs = 0 if self.mentions is None else deploy.candidate_pairs(self.mentions)
        extra = {
            "plain_wall_s": plain_wall_s,
            "traced_wall_s": _median(traced_walls),
            "candidate_pairs": pairs,
        }
        self.record("plain build", self.check_build(spark, entities, digest))
        if self.w.durable_pages:
            try:
                extra.update(self.durable_pass(spark, tracer, page_rows))
            except Exception as exc:  # counted as a failed build
                self.record("durable pass", [f"{type(exc).__name__}: {exc}"])
        return extra

    def durable_pass(self, spark, tracer, page_rows) -> dict:
        """The deploy's default path on the first ``durable_pages`` pages:
        one committed build under spans, checked against ``core.inference``
        entities for every url and a Python recomputation of its triples,
        then a resume that must process no bucket and skip every KG stage."""
        from ner_backend_spark.spark.checkpoint import read_checkpoints
        from ner_backend_spark.spark.checkpoint_kg import kg_stage_metrics
        from pyspark.sql import functions as F

        from perfbench import checks, deploy, inputs

        rows = page_rows[: self.w.durable_pages]
        path = os.path.join(self.work, "pages_durable")
        out = os.path.join(self.work, "out_durable")
        table_bytes = inputs.write_pages(path, rows)
        exp_ents, exp_groups = checks.report([(r[0], r[3]) for r in rows], deploy.CONFIG)
        exp_triples = checks.triples([e[:3] for e in exp_ents], exp_groups, None)

        tracer.build = "durable"
        try:
            with tracer.span("build"):
                res = deploy.durable_build(spark, path, out, tracer.span)
        finally:
            tracer.build = None
        bad = self.check_pages(spark, path)
        if res["processed_buckets"] != deploy.N_BUCKETS or res["failed_buckets"]:
            bad.append("report_buckets")
        if res["stages_run"] != KG_STAGES:
            bad.append("kg_stages")
        if _rows(spark.read.parquet(f"{out}/entities"), ENTITY_COLS) != exp_ents:
            bad.append("entities")
        groups = _rows(spark.read.parquet(f"{out}/object_groups"), ["url", "group_name"])
        if groups != exp_groups:
            bad.append("groups")
        triples = _rows(spark.read.parquet(f"{out}/kg/triples"), ["subj", "pred", "obj"])
        if triples != exp_triples:
            bad.append("triples")
        self.record("durable build", bad)

        with tracer.span("resume") as s:
            again = deploy.durable_build(spark, path, out)
        ok = (
            again["processed_buckets"] == 0
            and again["stages_run"] == []
            and again["stages_skipped"] == sorted(KG_STAGES)
        )
        self.record("durable resume", [] if ok else [str(again)])
        commits = (
            read_checkpoints(spark, out)
            .filter(F.col("run_id") == res["run_id"])
            .select("start_ts")
            .distinct()
            .count()
        )
        return {
            "resume_s": s.wall_s,
            "durable_table_bytes": table_bytes,
            "commits": commits,
            "entities_rows": len(exp_ents),
            "kg_stage_s": {
                k: v["seconds"] for k, v in kg_stage_metrics(spark, out).items()
            },
        }

    def layer_metrics(self, tracer, extra, n_err) -> dict:
        """Per-layer medians over the traced builds, from the spans, the
        event log and ``/proc``."""
        from perfbench import eventlog

        spark_log = eventlog.parse_dir(os.path.join(self.work, "events"))
        per: dict[str, list[float]] = {}
        share = []
        for s in tracer.spans:
            if s.name == "build" and s.build != "durable":
                kids = [c for c in tracer.spans if c.parent == s.id]
                share.append(sum(c.wall_s for c in kids) / s.wall_s)
            if s.name not in LAYERS:
                continue
            ev = spark_log.span_summary(s.id, s.start * 1000, s.end * 1000)
            vals = {
                "wall_s": s.wall_s,
                "jobs": ev["jobs"],
                "driver_gap_s": ev["driver_gap_s"],
                "task_s": ev["task_s"],
                "py_cpu_s": s.cpu1["py"] - s.cpu0["py"],
                "jvm_cpu_s": s.cpu1["jvm"] - s.cpu0["jvm"],
                "shuffle_write_mb": ev["shuffle_write_bytes"] / 1e6,
                "spill_mb": ev["spill_bytes"] / 1e6,
                "rows_out": s.rows_out,
            }
            if s.name == "checkpoint" and "commits" in extra:
                vals["rows_out"] = extra["entities_rows"]
                vals["write_mb"] = ev["output_bytes"] / 1e6
                vals["scan_amplification"] = (
                    ev["input_bytes"] / extra["durable_table_bytes"]
                )
            for k, v in vals.items():
                per.setdefault(f"{s.name}.{k}", []).append(v)
        out = {name: _median(per.get(name, [])) for name in LAYER_UNITS}
        pairs = extra["candidate_pairs"]
        out["kg.edges.candidate_pairs"] = pairs
        out["kg.edges.keep_ratio"] = out["kg.edges.rows_out"] / pairs if pairs else 0.0
        if "commits" in extra:
            out["checkpoint.commits"] = extra["commits"]
            out["checkpoint.resume_s"] = extra["resume_s"]
            for st in KG_STAGES:
                out[f"checkpoint_kg.{st}_s"] = extra["kg_stage_s"].get(st, 0.0)
        out["spark_error_lines"] = n_err
        out["tracing_overhead_s"] = extra["traced_wall_s"] - extra["plain_wall_s"]
        out["trace.layer_share"] = _median(share)
        if not 0.9 <= out["trace.layer_share"] <= 1.1:
            log(f"layer walls sum to {out['trace.layer_share']:.3f} of the build wall")
        return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out.items()}

    def write_trace(self, tracer, metrics, extra, n_err, err_lines) -> None:
        out_dir = os.path.join(ROOT, "perfbench", "_out")
        os.makedirs(out_dir, exist_ok=True)
        layers: dict[str, dict] = {}
        for s in tracer.spans:
            d = layers.setdefault(s.name, {"count": 0, "wall_s": 0.0, "self_s": 0.0})
            d["count"] += 1
            d["wall_s"] += s.wall_s
            d["self_s"] += tracer.self_time(s)
        path = os.path.join(out_dir, f"trace-{self.w.name}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": self.w.name,
                    "seed": self.seed,
                    "spans": tracer.to_json(),
                    "layers": layers,
                    "metrics": metrics,
                    "extra": extra,
                    "spark_error_lines": n_err,
                    "first_error_lines": err_lines,
                },
                f,
                indent=1,
            )
        log(f"trace written to {os.path.relpath(path, ROOT)}")


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


def run_all(args) -> int:
    """Each workload in its own process; prints each one's summary line."""
    from perfbench import inputs

    rc = 0
    for name in inputs.WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print(lines[-2] if len(lines) >= 2 else f"{name}: no result", flush=True)
        rc |= p.returncode
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.chdir(ROOT)  # Spark's Python workers import the package from the cwd
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "ner_backend_spark")):
        log("ner_backend_spark/ not found next to perfbench/")
        return 2
    from perfbench import inputs

    if args.workload == "all":
        return run_all(args)
    if args.workload not in inputs.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    work = os.path.join(ROOT, "perfbench", "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
