"""Per-layer metrics and per-job rows from a traced run.

Input: the tracer's spans (run > pass > job > construct|execute > layer
call) and the Spark event logs.  Each Spark job hangs under the span whose
id it carries in the ``perfbench.span`` local property, or, failing that,
under the traced pass whose window holds its submission; its stages hang
under it.  Every figure is summed over a traced pass and averaged over the
traced passes.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.eventlog import STAGE_METRICS, EventLog
from perfbench.spans import Span, Tracer, ancestors, self_times

SPAN_PROPERTY = "perfbench.span"
JOB_ROW_KEYS = ("construct_s", "construct_jobs", "execute_s", "spark_jobs",
                "shuffle_mb", "pyworker_mb")

# The public functions a traced pass wraps: (module, attribute, span name,
# metric counting the calls, metric of their seconds).
LAYERS = [
    ("sources.readers", "read_table", "sources.readers",
     "sources.readers.calls", "sources.readers.s"),
    ("localrel", "local_relation", "localrel", "localrel.calls", "localrel.s"),
    ("partitioning", "spread_small", "partitioning.spread_small",
     "partitioning.spread_small.calls", None),
    ("sources.catalog", "Catalog.write", "sources.catalog.write", None, "sources.catalog.write_s"),
    ("sources.catalog", "Catalog.read", "sources.catalog.read", None, "sources.catalog.read_s"),
    ("operators.mapreduce", "run_streaming_job", "operators.mapreduce.streaming",
     None, "operators.mapreduce.streaming_s"),
    ("operators.mapreduce", "run_inprocess", "operators.mapreduce.inprocess",
     None, "operators.mapreduce.inprocess_s"),
]
_LAYER_METRICS = {span: (calls, secs) for _m, _a, span, calls, secs in LAYERS}


def layer_targets(package: str) -> list[tuple[str, object, str]]:
    """``(span name, owner, attribute)`` for ``spans.patched``."""
    import importlib

    targets = []
    for module, attr, span, _calls, _secs in LAYERS:
        owner = importlib.import_module(f"{package}.{module}")
        *path, name = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        targets.append((span, owner, name))
    return targets


def attach_spark(tracer: Tracer, logs: list[EventLog], traced_passes: list[Span]) -> None:
    """Append a ``spark.job`` span per Spark job of a traced pass, and a
    ``spark.stage`` span per stage that ran, carrying their metrics."""
    known = len(tracer.spans)
    for log in logs:
        for job in sorted(log.jobs.values(), key=lambda j: j.submit):
            prop = job.properties.get(SPAN_PROPERTY)
            parent = int(prop) if prop and prop.isdigit() and int(prop) < known else None
            if parent is None:
                parent = next((p.id for p in traced_passes
                               if p.start <= job.submit <= p.end), None)
            if parent is None or not any(a in traced_passes for a in ancestors(tracer.spans, parent)):
                continue
            stages = log.job_stages(job)
            js = tracer.add(
                "spark.job", parent, job.submit, job.end or job.submit,
                job_id=job.job_id, idle_s=log.idle_s(job),
                tasks=sum(s.tasks for s in stages),
                tasks_failed=sum(s.tasks_failed for s in stages),
                **{m: sum(s.metrics.get(m, 0.0) for s in stages) for m in STAGE_METRICS},
            )
            for s in stages:
                tracer.add("spark.stage", js.id, s.submit or job.submit, s.complete,
                           stage_id=s.stage_id, attempt=s.attempt, tasks=s.tasks)


def _pass_of(spans: list[Span], sp: Span) -> Span | None:
    return next((a for a in ancestors(spans, sp.id) if a.name == "pass"), None)


def trace_overhead_s(timed: list[Span]) -> float:
    """Median over the traced passes of each one's wall time minus the mean
    of the untraced passes on either side of it, so that the warm-up still
    going on across passes cancels out."""
    walls = [p.attrs["wall_s"] for p in timed]
    return statistics.median(
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2
        for i, p in enumerate(timed)
        if p.attrs["traced"] and 0 < i < len(timed) - 1
    )


def layer_metrics(tracer: Tracer, timed: list[Span], cpu: dict[str, float],
                  setup: list[Span]) -> tuple[dict, list[dict], dict]:
    """Returns (per-layer metrics, per-job rows, self seconds per span name)
    of the traced ones among the timed passes."""
    spans = tracer.spans
    traced = [p for p in timed if p.attrs["traced"]]
    ids = {p.id for p in traced}
    n = max(1, len(traced))
    sums: dict[str, float] = defaultdict(float)
    rows: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    selfs = self_times(spans)
    self_by_name: dict[str, float] = defaultdict(float)

    for sp in spans:
        p = _pass_of(spans, sp)
        if p is None or p.id not in ids:
            continue
        chain = [a.name for a in ancestors(spans, sp.id)]
        job = next((a for a in ancestors(spans, sp.id) if a.name == "job"), None)
        row = rows[job.attrs["job"]] if job else None
        self_by_name[sp.name] += selfs[sp.id] / n
        if sp.name in _LAYER_METRICS:
            calls, seconds = _LAYER_METRICS[sp.name]
            if calls:
                sums[calls] += 1
            if seconds:
                sums[seconds] += sp.duration
        elif sp.name == "construct":
            sums["queries.construct_s"] += sp.duration
            sums["construct.self_s"] += selfs[sp.id]
            row["construct_s"] += sp.duration
        elif sp.name == "execute":
            sums["execute.s"] += sp.duration
            sums["execute.self_s"] += selfs[sp.id]
            row["execute_s"] += sp.duration
        elif sp.name == "job" and sp.attrs["job"].startswith("verb."):
            sums[f"{sp.attrs['job']}_s"] += sp.duration
        elif sp.name == "spark.job":
            a = sp.attrs
            sums["spark.jobs"] += 1
            sums["spark.tasks"] += a["tasks"]
            sums["spark.tasks_failed"] += a["tasks_failed"]
            sums["spark.stage_idle_s"] += a["idle_s"]
            for m in ("executor_run_s", "executor_cpu_s", "gc_s", "input_mb", "spill_mb",
                      "shuffle_write_mb", "shuffle_read_mb"):
                sums[f"spark.{m}"] += a[m]
            sums["pyworker.sent_mb"] += a["py_sent_mb"]
            sums["pyworker.recv_mb"] += a["py_recv_mb"]
            if "sources.readers" in chain:
                sums["sources.readers.jobs"] += 1
            if "construct" in chain:
                sums["queries.construct_jobs"] += 1
            if row is not None:
                row["spark_jobs"] += 1
                row["construct_jobs"] += "construct" in chain
                row["shuffle_mb"] += a["shuffle_write_mb"] + a["shuffle_read_mb"]
                row["pyworker_mb"] += a["py_sent_mb"] + a["py_recv_mb"]
        elif sp.name == "spark.stage":
            sums["spark.stages"] += 1

    metrics = {k: v / n for k, v in sums.items()}
    done = metrics.get("queries.construct_s", 0.0) + metrics.get("execute.s", 0.0)
    metrics["queries.construct_share"] = metrics.get("queries.construct_s", 0.0) / done if done else 0.0
    metrics["caching.tracked"] = max((p.attrs.get("tracked", 0) for p in traced), default=0)
    metrics["session.build_s"] = statistics.median(
        c.duration for s in setup for c in spans if c.parent == s.id and c.name == "session.build"
    )
    metrics.update({k: v / n for k, v in cpu.items()})
    metrics["trace.overhead_s"] = trace_overhead_s(timed)
    job_rows = [
        {"job": name, **{k: round(r.get(k, 0.0) / n, 6) for k in JOB_ROW_KEYS}}
        for name, r in sorted(rows.items())
    ]
    return metrics, job_rows, dict(self_by_name)
