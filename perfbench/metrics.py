"""What the benchmark reports: workloads, end-to-end metrics, per-layer metrics.

This table is the single source of ``BENCHMARK.json`` (which may only carry
name/unit/better/bound) plus what that file has no room for: the layer each
metric belongs to, and for every per-layer metric the end-to-end metric it
should move, the workloads where it should move, and where it should stay
flat.  ``benchmark_json()`` renders the file; a test pins the two together.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Five to six timed passes per run on 4 cores after two untimed ones: a run
# then takes about a minute, and the whole schedule of runs of both
# workloads fits its time budget with a margin of about a sixth.
RUN_SECONDS = 20

# The workloads of BENCHMARK.json.  Every layer the per-layer table names
# is exercised by one of them: query construction, the readers, local
# relations, the relation cache and spread_small by curation; the catalog,
# map-reduce and rdd.pipe workers by verbs.
WORKLOADS = [
    {
        "name": "verbs",
        "why": "the paper's write, read and map-reduce verbs through the CLI on a "
        "seeded skewed purchases file: catalog, rdd.pipe workers and an RDD "
        "shuffle, no query construction",
    },
    {
        "name": "curation",
        "why": "Arrow-kernel curation queries: construction-heavy classifier "
        "training, a memo-trained BPE model, cached relations and spread_small, "
        "where construction and Python-worker time dominate",
    },
]

# Runnable by hand (``--workload relational``) but left out of
# BENCHMARK.json: a third workload's runs do not fit the time budget of the
# whole schedule with passes long enough to be steady.
EXTRA_WORKLOADS = [
    {
        "name": "relational",
        "why": "TPC-H shapes and joins that run on Catalyst alone: scan, shuffle "
        "and broadcast dominate, Python workers idle, every read pays a "
        "schema-inference job",
    },
]

# name, unit, better, bound, layer, meaning.  Bounds are wide because on a
# shared 4-core host whole runs move 5-15% against each other (a fixed
# single-threaded Python loop there takes anywhere from 0.20 s to 0.43 s),
# and the JVM's peak RSS moves with its garbage collections.
END_TO_END = [
    ("wall_s", "s", "lower", 0.25, "run",
     "median over the timed warm passes of a pass's wall time (the sum of its jobs' latencies)"),
    ("job_s.p50", "s", "lower", 0.25, "job",
     "median over the jobs of each job's median latency over the timed warm passes"),
    ("setup_s", "s", "lower", 0.25, "session",
     "build_session plus the fixed global warm-up, median of the rebuilds in a run"),
    ("cold_pass_s", "s", "lower", 0.25, "run",
     "the first pass after set-up: JIT, Python-worker spawn, model-memo fill"),
    ("peak_rss_mb", "MB", "lower", 0.2, "process",
     "sum of VmHWM over the driver, the JVM and the live Python workers"),
]

# name, unit, better, layer, should move, on, predicted flat on.  Where
# "on" names only relational, curation shows the same layer in the
# benchmark's own runs.
PER_LAYER = [
    ("session.build_s", "s", "lower", "session", "setup_s", "all", "n/a"),
    ("sources.readers.calls", "count", "lower", "sources.readers",
     "job_s.p50 wall_s", "relational", "verbs"),
    ("sources.readers.s", "s", "lower", "sources.readers",
     "job_s.p50 wall_s", "relational", "verbs"),
    ("sources.readers.jobs", "count", "lower", "sources.readers",
     "job_s.p50 wall_s", "relational", "verbs"),
    ("queries.construct_s", "s", "lower", "queries", "wall_s", "curation", "verbs"),
    ("queries.construct_jobs", "count", "lower", "queries", "wall_s", "curation", "verbs"),
    ("queries.construct_share", "ratio", "lower", "queries", "wall_s", "curation", "verbs"),
    ("construct.self_s", "s", "lower", "queries", "wall_s", "curation", "verbs"),
    ("localrel.calls", "count", "lower", "localrel",
     "queries.construct_s wall_s", "curation", "relational verbs"),
    ("localrel.s", "s", "lower", "localrel",
     "queries.construct_s wall_s", "curation", "relational verbs"),
    ("caching.tracked", "count", "lower", "caching", "peak_rss_mb", "curation", "relational"),
    ("partitioning.spread_small.calls", "count", "lower", "partitioning",
     "wall_s", "curation", "relational"),
    ("sources.catalog.write_s", "s", "lower", "sources.catalog",
     "verb.w_s", "verbs", "relational curation"),
    ("sources.catalog.read_s", "s", "lower", "sources.catalog",
     "verb.r_s", "verbs", "relational curation"),
    ("operators.mapreduce.streaming_s", "s", "lower", "operators.mapreduce",
     "verb.mr_s wall_s", "verbs", "relational curation"),
    ("operators.mapreduce.inprocess_s", "s", "lower", "operators.mapreduce",
     "wall_s", "verbs", "relational curation"),
    ("verb.w_s", "s", "lower", "cli", "wall_s", "verbs", "relational curation"),
    ("verb.r_s", "s", "lower", "cli", "wall_s", "verbs", "relational curation"),
    ("verb.mr_s", "s", "lower", "cli", "wall_s", "verbs", "relational curation"),
    ("execute.s", "s", "lower", "execute", "job_s.p50", "relational", "n/a"),
    ("execute.self_s", "s", "lower", "execute", "job_s.p50", "relational", "n/a"),
    ("spark.jobs", "count", "lower", "spark", "job_s.p50", "relational", "n/a"),
    ("spark.stages", "count", "lower", "spark", "job_s.p50", "relational", "n/a"),
    ("spark.tasks", "count", "lower", "spark", "job_s.p50", "relational", "n/a"),
    ("spark.tasks_failed", "count", "lower", "spark", "job_s.p50", "relational", "n/a"),
    ("spark.stage_idle_s", "s", "lower", "spark", "job_s.p50", "relational", "n/a"),
    ("spark.executor_run_s", "s", "lower", "spark", "wall_s", "relational", "n/a"),
    ("spark.executor_cpu_s", "s", "lower", "spark", "wall_s", "relational", "n/a"),
    ("spark.gc_s", "s", "lower", "spark", "wall_s", "relational", "n/a"),
    ("spark.input_mb", "MB", "lower", "spark", "wall_s", "relational", "n/a"),
    ("spark.spill_mb", "MB", "lower", "spark", "wall_s", "relational", "n/a"),
    ("spark.shuffle_write_mb", "MB", "lower", "spark",
     "wall_s verb.mr_s", "relational verbs", "n/a"),
    ("spark.shuffle_read_mb", "MB", "lower", "spark",
     "wall_s verb.mr_s", "relational verbs", "n/a"),
    ("pyworker.cpu_s", "s", "lower", "pyworker",
     "wall_s verb.mr_s", "curation verbs", "relational"),
    ("pyworker.sent_mb", "MB", "lower", "pyworker",
     "wall_s verb.mr_s", "curation verbs", "relational"),
    ("pyworker.recv_mb", "MB", "lower", "pyworker",
     "wall_s verb.mr_s", "curation verbs", "relational"),
    ("driver.cpu_s", "s", "lower", "driver",
     "queries.construct_s wall_s", "curation relational", "n/a"),
    ("jvm.cpu_s", "s", "lower", "jvm",
     "queries.construct_s wall_s", "curation relational", "n/a"),
    ("trace.overhead_s", "s", "lower", "trace", "n/a", "n/a", "all"),
]


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document rendered from the tables above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [dict(w) for w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound, _layer, _doc in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b}
            for n, u, b, *_ in PER_LAYER
        ],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))
