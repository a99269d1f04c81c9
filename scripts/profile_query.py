"""Per-stage profile of one or more registered queries (guide §1).

Runs each named query through the noop sink with the Spark event log
enabled, then aggregates the log into a per-stage table: wall time,
task time, shuffle read/write bytes, input bytes, and the first line of
the stage's callsite — enough to see which operator inside a composed
query owns the time, without the UI (disabled in this container).
Under each table: the generated classes the profiled runs compiled and
their compile milliseconds (``plans.codegen_compiles``; a warm run that
compiles nothing reuses every class it generated).

Usage:
    python scripts/profile_query.py <query> [query ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_query.py ...
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from yet_another_map_reduce_spark.plans import codegen_compiles  # noqa: E402
from yet_another_map_reduce_spark.queries import QUERIES  # noqa: E402
from yet_another_map_reduce_spark.session import build_session  # noqa: E402

EVDIR = "/tmp/spark-events-profile"


def profile(names: list[str], sf_dir: str, runs: int = 1) -> None:
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

    # --- parse the event log ---
    ev_files = []
    for root, _dirs, files in os.walk(EVDIR):
        ev_files += [
            os.path.join(root, f) for f in files if not f.startswith("appstatus")
        ]
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    for path in ev_files:
        with open(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = e.get("Event")
                if et == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description", ""),
                        "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                        "t0": e.get("Submission Time", 0) / 1000.0,
                    }
                elif et == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["t1"] = e.get("Completion Time", 0) / 1000.0
                elif et == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    sub = si.get("Submission Time")
                    com = si.get("Completion Time")
                    acc = {
                        a.get("Name"): a.get("Value")
                        for a in si.get("Accumulables", [])
                    }

                    def _n(label: str) -> float:
                        v = acc.get(label, 0)
                        try:
                            return float(v)
                        except (TypeError, ValueError):
                            return 0.0

                    stages[key] = {
                        "name": si.get("Stage Name", ""),
                        "ntasks": si.get("Number of Tasks", 0),
                        "wall": ((com - sub) / 1000.0) if sub and com else 0.0,
                        "exec_ms": _n("internal.metrics.executorRunTime"),
                        "cpu_ms": _n("internal.metrics.executorCpuTime") / 1e6,
                        "sh_read": _n("internal.metrics.shuffle.read.remoteBytesRead")
                        + _n("internal.metrics.shuffle.read.localBytesRead"),
                        "sh_write": _n("internal.metrics.shuffle.write.bytesWritten"),
                        "input": _n("internal.metrics.input.bytesRead"),
                    }

    # group stages by job description
    per_q: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        desc = j.get("desc", "")
        if not desc.startswith("PROFILE:"):
            continue
        qname = desc.split(":", 1)[1]
        for sid in j["stages"]:
            st = stages.get((sid, 0))
            if st:
                per_q.setdefault(qname, []).append((jid, sid, st))

    for qname, rows in per_q.items():
        print(f"\n=== {qname} ===")
        print(
            f"{'job':>4} {'stage':>5} {'wall_s':>7} {'task_s':>7} {'cpu_s':>7} "
            f"{'tasks':>5} {'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7}  name"
        )
        tot = 0.0
        for jid, sid, st in rows:
            tot += st["wall"]
            print(
                f"{jid:>4} {sid:>5} {st['wall']:>7.2f} {st['exec_ms'] / 1000:>7.2f} "
                f"{st['cpu_ms'] / 1000:>7.2f} {st['ntasks']:>5} "
                f"{st['input'] / 1e6:>7.1f} {st['sh_read'] / 1e6:>7.1f} "
                f"{st['sh_write'] / 1e6:>7.1f}  {st['name'][:60]}"
            )
        njobs = len({jid for jid, _, _ in rows})
        print(f"  stage-wall total {tot:.2f}s across {njobs} jobs, {len(rows)} stages")
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
