"""Run one workload of the yamr-spark benchmark and print its metrics.

    python3 perfbench/run.py --workload curation --seed 7 --seconds 20 --trace 0

One driver process runs the workload on ``local[N]``, N = the cores this
process may use, as a closed loop: one job at a time, no client threads.
A run sets the session up ``1 + SETUP_REPS`` times (the first start also
launches the JVM), makes one cold pass over the jobs and ``WARM_PASSES``
untimed warm passes, then timed warm passes until ``--seconds`` have gone.
Every job's output is checked; a failed or wrong job is named in the run
record and counted, and the pass goes on.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, alternates untraced and traced timed passes, and reports
the per-layer metrics of the traced ones; a traced pass's wall time minus
that of the untraced passes beside it is the tracing overhead.  The last
stdout line is the result JSON; the run record (environment, contention,
per-job rows, failures) is the line before it and is also written, with
the span file, under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, procfs, report, workloads  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    END_TO_END, EXTRA_WORKLOADS, PER_LAYER, RUN_SECONDS, WORKLOADS)
from perfbench.spans import Span, Tracer, patched  # noqa: E402

PACKAGE = "yet_another_map_reduce_spark"
OUT_DIR = os.path.join(ROOT, "perfbench", "out")
SETUP_REPS = 3
# Untimed warm passes between the cold pass and the timed ones: the first
# warm passes still run 20-30% slower (JIT, Python workers still being
# forked and filling their memos).
WARM_PASSES = 2
CONTENTION_CORES = 1.0


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in WORKLOADS + EXTRA_WORKLOADS])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--jobs", default="", help="comma-separated subset of the workload's jobs")
    return p.parse_args(argv)


def _git_commit() -> str | None:
    """HEAD of the checkout, read from ``.git`` (absent outside a clone)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            return next((ln.split()[0] for ln in fh if ln.rstrip().endswith(" " + ref)), None)
    except OSError:
        return None


def _prepare_env(tmp: str, seed: int) -> dict:
    """Process environment for the driver, the JVM and the Python workers,
    set before the JVM starts: the repo root on PYTHONPATH so workers import
    the package from any working directory, and every scratch write inside
    this run's directory."""
    caller_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR

    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": caller_cpus,
        "master": f"local[{cores}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "commit": _git_commit(),
        "seed": seed,
        "data": "perfbench/data/sf0.01",
        "data_digest": workloads.data_digest(),
    }


def _session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return conf


def _warm_up(spark) -> None:
    """The fixed global warm-up of every set-up: scan, aggregate, sort, join."""
    li = spark.read.parquet(os.path.join(workloads.DATA_DIR, "lineitem.parquet"))
    for df in (li.groupBy("l_returnflag").count(),
               li.orderBy("l_orderkey").limit(10),
               li.join(li.limit(100), "l_orderkey")):
        df.write.format("noop").mode("overwrite").save()


def _shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every process the run
    started (JVM, Python workers, pipe subprocesses) has exited."""
    from pyspark import SparkContext

    started = procfs.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF from its driver
        proc.wait(timeout=60)
    left = procfs.wait_gone(started, timeout=30)
    if left:
        print(f"perfbench: processes still running after shutdown: {left}", file=sys.stderr)


class Bench:
    """One workload's session, jobs, passes and failure tally."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.tracer = Tracer()
        self.spark = None
        self.jobs: list[workloads.Job] = []
        self.rng = random.Random(args.seed)
        self.failures: list[dict] = []
        self.attempted = 0

    def setup(self, conf: dict[str, str]) -> Span:
        from yet_another_map_reduce_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("setup") as sp:
            with self.tracer.span("session.build"):
                self.spark = build_session(app_name="perfbench", extra_conf=conf)
            _warm_up(self.spark)
        return sp

    def _tag(self, span_id: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            report.SPAN_PROPERTY, None if span_id is None else str(span_id)
        )

    def run_pass(self, kind: str, traced: bool = False) -> Span:
        from yet_another_map_reduce_spark.caching import tracked_count

        order = self.jobs if kind == "cold" else workloads.visit_order(
            self.args.workload, self.jobs, self.rng)
        tracked0 = tracked_count()
        cpu0 = procfs.usage()
        outputs = []
        if traced:
            self.tracer.on_current = self._tag
        try:
            with patched(self.tracer, report.layer_targets(PACKAGE) if traced else [], PACKAGE), \
                    self.tracer.span("pass", kind=kind, traced=traced) as ps:
                for job in order:
                    with self.tracer.span("job", job=job.name) as js:
                        try:
                            out, err = job.run(), None
                        except Exception as exc:  # noqa: BLE001 - a failed job is counted, the pass goes on
                            out, err = None, f"{type(exc).__name__}: {exc}"
                    outputs.append((job, js, out, err))
        finally:
            self.tracer.on_current = None
        cpu = procfs.usage() - cpu0
        ps.attrs.update(
            wall_s=sum(js.duration for _, js, _, _ in outputs),
            job_s={job.name: js.duration for job, js, _, _ in outputs},
            tracked=tracked_count() - tracked0,
            cpu={"driver.cpu_s": cpu.driver, "jvm.cpu_s": cpu.jvm,
                 "pyworker.cpu_s": cpu.pyworker},
        )
        for job, _js, out, err in outputs:
            self.attempted += 1
            if err is None:
                try:
                    errs = job.check(out)
                except Exception as exc:  # noqa: BLE001 - an unreadable output is a wrong output
                    errs = [f"check raised {type(exc).__name__}: {exc}"]
            else:
                errs = [err]
            if errs:
                self.failures.append({"job": job.name, "pass": kind,
                                      "errors": [e[:400] for e in errs[:3]]})
        return ps


def _timed_passes(bench: Bench, seconds: float, trace: bool) -> list[Span]:
    """``WARM_PASSES`` untimed warm passes, then timed ones until
    ``seconds`` have gone.  With tracing, untraced and traced passes take
    turns, starting and ending with an untraced one, so that every traced
    pass has an untraced pass on either side to be compared with."""
    for _ in range(WARM_PASSES):
        bench.run_pass("warm-up")
    passes: list[Span] = []
    deadline = time.perf_counter() + seconds
    while True:
        traced = trace and len(passes) % 2 == 1
        passes.append(bench.run_pass("warm", traced))
        if time.perf_counter() >= deadline and (not trace or len(passes) >= 3 and len(passes) % 2 == 1):
            return passes


def _run(args: argparse.Namespace, tmp: str) -> int:
    env = _prepare_env(tmp, args.seed)
    bench = Bench(args)
    tracer = bench.tracer
    conf = _session_conf(tmp, bool(args.trace))
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            setups = [bench.setup(conf) for _ in range(1 + SETUP_REPS)]
            bench.jobs = workloads.build(args.workload, bench.spark, tracer, tmp, args.seed,
                                         os.path.join(OUT_DIR, "oracle-cache"))
            if args.jobs:
                wanted = args.jobs.split(",")
                unknown = sorted(set(wanted) - {j.name for j in bench.jobs})
                if unknown:
                    print(f"perfbench: unknown jobs for {args.workload}: {unknown}",
                          file=sys.stderr)
                    return 2
                bench.jobs = [j for j in bench.jobs if j.name in wanted]
            cold = bench.run_pass("cold")
            before = procfs.usage()
            t0 = time.perf_counter()
            timed = _timed_passes(bench, args.seconds, bool(args.trace))
            used = procfs.usage() - before
            elapsed = time.perf_counter() - t0
            peak_rss = procfs.peak_rss_mb()
    finally:
        if bench.spark is not None:
            _shutdown(bench.spark)

    untraced = [p for p in timed if not p.attrs["traced"]]
    traced = [p for p in timed if p.attrs["traced"]]
    # Medians over the timed passes: past the untimed warm-up they sit on a
    # plateau, and a median, unlike a minimum, does not depend on how many
    # passes fit in --seconds.
    med_job_s = {name: statistics.median(p.attrs["job_s"][name] for p in untraced)
                 for name in untraced[0].attrs["job_s"]}
    e2e = {
        "wall_s": statistics.median(p.attrs["wall_s"] for p in untraced),
        "job_s.p50": statistics.median(med_job_s.values()),
        "setup_s": statistics.median(s.duration for s in setups[1:]),
        "cold_pass_s": cold.attrs["wall_s"],
        "peak_rss_mb": peak_rss,
    }
    others = max(0.0, (used.system - used.tree) / elapsed)
    record = {
        "workload": args.workload,
        "env": env,
        "contention": {
            "other_cores": others,
            "own_cores": used.tree / elapsed,
            "flagged": others > CONTENTION_CORES,
        },
        "jvm_start_s": setups[0].duration,
        "passes": {"timed": len(timed), "traced": len(traced)},
        # job_s.p50 is the median over the jobs of each one's median latency
        "job_s_samples": sum(len(p.attrs["job_s"]) for p in untraced),
        "pass_wall_s": [p.attrs["wall_s"] for p in untraced],
        "pass_job_s": [p.attrs["job_s"] for p in untraced],
        "job_median_s": med_job_s,
        "cold_job_s": cold.attrs["job_s"],
        "end_to_end": e2e,
        # kept out of the result line, whose metrics may never read 0
        "failed_frac": len(bench.failures) / bench.attempted,
        "failures": bench.failures,
    }
    if record["contention"]["flagged"]:
        print(f"perfbench: other processes used {others:.2f} cores during the timed "
              "passes; these figures are contended", file=sys.stderr)

    out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(out, exist_ok=True)
    if args.trace:
        report.attach_spark(tracer, eventlog.read_dir(conf["spark.eventLog.dir"]), traced)
        cpu = {k: sum(p.attrs["cpu"][k] for p in traced) for k in traced[0].attrs["cpu"]}
        layer, rows, selfs = report.layer_metrics(tracer, timed, cpu, setups[1:])
        record.update(per_layer=layer, jobs=rows, self_s=selfs,
                      trace_overhead_share=layer["trace.overhead_s"] / e2e["wall_s"])
        with open(os.path.join(out, "spans.jsonl"), "w") as fh:
            for sp in tracer.spans:
                fh.write(json.dumps({"id": sp.id, "name": sp.name, "parent": sp.parent,
                                     "start": sp.start, "end": sp.end,
                                     "attrs": {k: v for k, v in sp.attrs.items()
                                               if not isinstance(v, dict)}}) + "\n")
        for row in rows:
            print(json.dumps(row))
        values = {name: layer.get(name, 0.0) for name, *_ in PER_LAYER}
        units = {name: unit for name, unit, *_ in PER_LAYER}
    else:
        values = e2e
        units = {name: unit for name, unit, *_ in END_TO_END}
    with open(os.path.join(out, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result(bench.attempted, len(bench.failures), values, units)))
    return 0


def result(attempted: int, failed: int, values: dict[str, float], units: dict[str, str]) -> dict:
    """The result line: exactly ``correct``, ``attempted``, ``failed``, ``metrics``."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=OUT_DIR)
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
