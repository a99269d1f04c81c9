"""Per-stage profile of one or more registered queries (guide §1).

Runs each named query through the noop sink with the Spark event log
enabled, then reads the log through ``perfbench.eventlog`` into a
per-stage table of the jobs described ``PROFILE:<query>``: wall time,
executor run and CPU time, task count, input and shuffle read/write MB
— enough to see which stage inside a composed query owns the time,
without the Spark UI.
Under each table: the generated classes the profiled runs compiled and
their compile milliseconds (``plans.codegen_compiles``; a warm run that
compiles nothing reuses every class it generated).

Usage:
    python scripts/profile_query.py <query> [query ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_query.py ...
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import _measure  # noqa: F401  (repo root on sys.path)

from perfbench.eventlog import read_dir

EVDIR = "/tmp/spark-events-profile"


def profile(names: list[str], sf_dir: str, runs: int = 1) -> None:
    from yet_another_map_reduce_spark.plans import codegen_compiles
    from yet_another_map_reduce_spark.queries import QUERIES
    from yet_another_map_reduce_spark.session import build_session

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    spark = build_session(
        app_name="profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVDIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    compiles: dict[str, tuple[int, float]] = {}
    for name in names:
        fn = QUERIES[name]
        # warm-up: plan compile + JIT, outside the profiled window
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sc.setJobDescription(f"PROFILE:{name}")
        n0, ms0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        for _ in range(runs):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        n1, ms1 = codegen_compiles(spark)
        sc.setJobDescription(None)
        compiles[name] = (n1 - n0, ms1 - ms0)
        print(f"{name}: {(t1 - t0) / runs:.3f}s/run ({runs} runs)")
    spark.stop()
    report(read_dir(EVDIR), compiles)


def stage_rows(logs) -> dict[str, list[tuple]]:
    """Per profiled query, one row per stage its ``PROFILE:`` jobs ran, in
    job order: ``(job, stage, wall_s, run_s, cpu_s, tasks, in_mb,
    shuffle_read_mb, shuffle_write_mb)``.  First attempts only; skipped
    stages never complete and are left out."""
    per_q: dict[str, list[tuple]] = {}
    for log in logs:
        for jid, job in sorted(log.jobs.items()):
            desc = job.properties.get("spark.job.description") or ""
            if not desc.startswith("PROFILE:"):
                continue
            for sid in job.stage_ids:
                st = log.stages.get((sid, 0))
                if st is None or st.complete is None:
                    continue
                m = st.metrics
                wall = st.complete - st.submit if st.submit is not None else 0.0
                per_q.setdefault(desc.split(":", 1)[1], []).append((
                    jid, sid, wall, m["executor_run_s"], m["executor_cpu_s"],
                    st.tasks, m["input_mb"], m["shuffle_read_mb"],
                    m["shuffle_write_mb"],
                ))
    return per_q


def report(logs, compiles: dict[str, tuple[int, float]]) -> None:
    for qname, rows in stage_rows(logs).items():
        print(f"\n=== {qname} ===")
        print(
            f"{'job':>4} {'stage':>5} {'wall_s':>7} {'task_s':>7} {'cpu_s':>7} "
            f"{'tasks':>5} {'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7}"
        )
        for jid, sid, wall, run, cpu, tasks, inp, shr, shw in rows:
            print(
                f"{jid:>4} {sid:>5} {wall:>7.2f} {run:>7.2f} {cpu:>7.2f} "
                f"{tasks:>5} {inp:>7.1f} {shr:>7.1f} {shw:>7.1f}"
            )
        njobs = len({r[0] for r in rows})
        print(
            f"  stage-wall total {sum(r[2] for r in rows):.2f}s across "
            f"{njobs} jobs, {len(rows)} stages"
        )
        n, ms = compiles[qname]
        print(f"  codegen: {n} classes compiled, {ms:.0f} ms")


if __name__ == "__main__":
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=")[1])
    profile(args, sf, runs)
