"""The three workloads: their jobs, their inputs and their output checks.

A job returns its output; its check turns that output into a list of
errors (empty when right).  Query jobs are checked against the DuckDB twin
in ``queries.ORACLES`` with the comparison ``scripts/check_parity.py``
uses.  The ``verbs`` jobs are checked against the answer the generator
computes from its own lines.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
JOBS_DIR = os.path.join(ROOT, "perfbench", "jobs")

# The sf0.01 tables are a byte copy of the repo's fixed test data, which
# must not be regenerated; the seed varies the visit order instead.
RELATIONAL = [
    "pricing_summary",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "tpch_q6_revenue",
    "flagship_max_price",
    "asof_join",
    "range_join",
    "agg_distinct",
]
CURATION = [
    "quality_classifier_train_avg",  # construction-bound, local_relation trajectories
    "text_bpe_tokenize_8k",  # BPE merge-table memo
    "pipeline_curation_v2",  # tracked_cache relations + spread_small
]

VERB_LINES = 150_000
LOCATIONS = 300
_ITEMS = ["books", "music", "toys", "garden", "tools", "games", "cameras", "baby"]
_PAYMENTS = ["cash", "visa", "mastercard", "amex", "discover"]


@dataclass
class Job:
    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


# ---------------------------------------------------------------- verbs


def generate_lines(seed: int, n: int = VERB_LINES) -> list[str]:
    """``n`` purchases lines in the reference format: date, time, location,
    item, cost, payment, tab-separated.  Location frequencies are Zipf-like
    (weight 1/rank), so a few reducers carry most of the keys' values."""
    rng = random.Random(seed)
    locs = [f"store-{i:03d}" for i in range(LOCATIONS)]
    weights = [1.0 / (i + 1) for i in range(LOCATIONS)]
    where = rng.choices(locs, weights, k=n)
    return [
        f"2012-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}\t"
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}\t{loc}\t"
        f"{rng.choice(_ITEMS)}\t{rng.randint(1, 50000) / 100:.2f}\t{rng.choice(_PAYMENTS)}"
        for loc in where
    ]


def expected_max(lines: list[str]) -> list[str]:
    """The generator's own answer: sorted ``location,<max cost>`` lines."""
    best: dict[str, float] = {}
    for line in lines:
        f = line.split("\t")
        best[f[2]] = max(best.get(f[2], float("-inf")), float(f[4]))
    return sorted(f"{k},{v}" for k, v in best.items())


def _same(what: str, got: list[str], want: list[str]) -> list[str]:
    if got == want:
        return []
    diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
    return [f"{what}: {len(got)} lines vs {len(want)} expected, first difference at {diff}"]


def verbs_jobs(spark, work: str, seed: int) -> list[Job]:
    from yet_another_map_reduce_spark.__main__ import main as cli
    from yet_another_map_reduce_spark.operators import mapreduce

    from perfbench.jobs.mapper import map_line
    from perfbench.jobs.reducer import reduce_key

    lines = generate_lines(seed)
    src = os.path.join(work, "purchases.txt")
    with open(src, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    catalog = os.path.join(work, "catalog")
    mr_out = os.path.join(work, "mr_out")
    want_read = "\n".join(sorted(lines)) + "\n"
    want_max = expected_max(lines)

    def run_cli(*argv: str) -> tuple[int, str]:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli(list(argv), spark=spark)
        return rc, buf.getvalue()

    def check_cli(out, check: Callable[[str], list[str]]) -> list[str]:
        rc, text = out
        return [f"exit code {rc}"] if rc else check(text)

    def read_parts() -> tuple[int, list[str]]:
        got = []
        for name in os.listdir(mr_out):
            if name.startswith("part-"):
                with open(os.path.join(mr_out, name)) as fh:
                    got.extend(line.rstrip("\n") for line in fh if line.strip())
        return 0, sorted(got)

    def run_mr():
        # every verb opens the catalog, which defaults to ./.yamr_catalog
        rc, _ = run_cli("--catalog", catalog, "-mr", src, os.path.join(JOBS_DIR, "mapper.py"),
                        os.path.join(JOBS_DIR, "reducer.py"),
                        "--reducers", "4", "--output", mr_out)
        return (rc, []) if rc else read_parts()

    return [
        Job("verb.w",
            lambda: run_cli("--catalog", catalog, "-w", src, "--name", "purchases"),
            lambda out: check_cli(out, lambda t: [] if "WRITE COMPLETE: purchases" in t
                                  else ["no WRITE COMPLETE line"])),
        Job("verb.r",
            lambda: run_cli("--catalog", catalog, "-r", "purchases"),
            lambda out: check_cli(out, lambda t: [] if t == want_read
                                  else ["read output is not the sorted input"])),
        Job("verb.mr", run_mr,
            lambda out: [f"exit code {out[0]}"] if out[0] else _same("-mr", out[1], want_max)),
        Job("mr.inprocess",
            lambda: sorted(r[0] for r in mapreduce.run_inprocess(
                spark, src, map_line, reduce_key, num_reducers=4).collect()),
            lambda out: _same("run_inprocess", out, want_max)),
    ]


# -------------------------------------------------------------- queries


def data_digest(data_dir: str = DATA_DIR) -> str:
    """Size and mtime of every input table, hashed."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        st = os.stat(os.path.join(data_dir, name))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _check_parity():
    """``scripts/check_parity.py`` as a module, for its ``compare``."""
    path = os.path.join(ROOT, "scripts", "check_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(names: list[str], cache_dir: str) -> dict:
    """DuckDB answer per query, cached on disk by oracle text and input
    digest so that only a checkout's first run pays for the slow ones."""
    import duckdb
    import pandas as pd

    from yet_another_map_reduce_spark.queries import ORACLES
    from yet_another_map_reduce_spark.sources.readers import TABLES

    os.makedirs(cache_dir, exist_ok=True)
    digest = data_digest()
    out, con = {}, None
    for name in names:
        key = hashlib.sha256(f"{digest}\n{ORACLES[name]}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        out[name] = con.execute(ORACLES[name]).fetchdf()
        out[name].to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def query_jobs(spark, tracer, names: list[str], cache_dir: str) -> list[Job]:
    from yet_another_map_reduce_spark.queries import QUERIES

    compare = _check_parity().compare
    oracles = oracle_answers(names, cache_dir)

    def job(name: str) -> Job:
        def run():
            with tracer.span("construct"):
                df = QUERIES[name](spark, DATA_DIR)
            with tracer.span("execute"):
                return df.toPandas()

        return Job(name, run, lambda pdf: compare(name, pdf, oracles[name]))

    return [job(n) for n in names]


def build(workload: str, spark, tracer, work: str, seed: int, cache_dir: str) -> list[Job]:
    if workload == "verbs":
        return verbs_jobs(spark, work, seed)
    return query_jobs(spark, tracer, RELATIONAL if workload == "relational" else CURATION,
                      cache_dir)


def visit_order(workload: str, jobs: list[Job], rng: random.Random) -> list[Job]:
    """The order of one warm pass: seeded for the query workloads (the cold
    pass keeps registry order, so that the same job pays the JVM's and the
    workers' first-use costs in every run); fixed for the verbs, since
    ``-r`` reads what ``-w`` wrote."""
    if workload == "verbs":
        return list(jobs)
    order = list(jobs)
    rng.shuffle(order)
    return order

