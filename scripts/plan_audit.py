"""Physical-plan audit over every registered query → PLANS.md.

For each query: shuffle-exchange count, broadcast usage, whether
parquet scans carry pushed filters, and Python-eval nodes in the plan
(ArrowEvalPython = vectorized OK; BatchEvalPython = row-at-a-time BAD).
The table is committed as PLANS.md so plan-shape regressions show up in
diffs, not just in wall-clock.

Plan identity between two checkouts:

    PYTHONHASHSEED=0 python scripts/plan_audit.py SF_DIR --dump A   # checkout 1
    PYTHONHASHSEED=0 python scripts/plan_audit.py SF_DIR --dump B   # checkout 2
    python scripts/plan_audit.py --diff A B

``--dump`` writes each query's formatted physical plan to
``DIR/<query>.txt`` with the ids that differ from run to run normalized
(``normalize_plan``); ``--diff`` lists the queries whose files differ
and exits nonzero if any do.
"""

from __future__ import annotations

import os
import re

import _measure  # noqa: F401  (repo root on sys.path)

from yet_another_map_reduce_spark import plans
from yet_another_map_reduce_spark.queries import QUERIES
from yet_another_map_reduce_spark.session import build_session


#: run-to-run ids in a formatted plan, each with its stable stand-in:
#: expression ids (``#12``, ``#12L``), Spark Connect plan ids, codegen
#: stage ids, AQE query-stage ids (the bare ``Arguments: N`` line of a
#: ShuffleQueryStage/BroadcastQueryStage) and the paths under the
#: per-process scratch directories that temp-dir queries write to (index
#: version and segment names in them are random)
_PLAN_IDS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"^Arguments: \d+$", re.M), "Arguments: N"),
    (re.compile(r"/(?:tmp|dev/shm)/[^\s,\]]*"), "/SCRATCH"),
]


def normalize_plan(text: str) -> str:
    """``text`` with every run-to-run id replaced by its stand-in."""
    for pat, repl in _PLAN_IDS:
        text = pat.sub(repl, text)
    return text


def dump(sf_dir: str, out_dir: str) -> None:
    """Write each query's normalized formatted plan to
    ``out_dir/<query>.txt`` (a construction error is written in its
    place, so it diffs like a plan)."""
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="plan-dump")
    for name, fn in QUERIES.items():
        try:
            text = normalize_plan(plans.formatted_plan(fn(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001
            text = f"ERR {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(text)
    spark.stop()


def diff(a: str, b: str) -> list[str]:
    """Names of the queries whose dumps differ between directories ``a``
    and ``b``, or exist in only one of them."""

    def read(d: str, f: str) -> str | None:
        p = os.path.join(d, f)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return fh.read()

    files = sorted(set(os.listdir(a)) | set(os.listdir(b)))
    return [f[: -len(".txt")] for f in files if read(a, f) != read(b, f)]


def audit(sf_dir: str) -> str:
    spark = build_session(app_name="plan-audit")
    lines = [
        "# PLANS — physical-plan audit (generated by scripts/plan_audit.py)",
        "",
        f"Scale dir: `{sf_dir}`. Exchanges = shuffle exchanges (broadcast not counted).",
        "Python nodes: Arrow = vectorized pandas/UDTF path, Batch = row-at-a-time (flagged).",
        "",
        "| query | exchanges | broadcast | pushed filters | python nodes | notes |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = plans.formatted_plan(df)
            n_ex = plans.count_exchanges(df)
            bcast = "yes" if plans.uses_broadcast_join(df) else ""
            pushed = "yes" if re.search(r"PushedFilters: \[.*\w.*\]", plan) else ""
            py_nodes = []
            plain = plan.replace("ArrowEvalPythonUDTF", "").replace("BatchEvalPythonUDTF", "")
            if "ArrowEvalPython" in plain:
                py_nodes.append("Arrow")
            if "BatchEvalPython" in plain:
                py_nodes.append("Batch(!)")  # row-at-a-time scalar UDF: fix it
            if "MapInPandas" in plan:
                py_nodes.append("MapInPandas")
            if "FlatMapGroupsInPandas" in plan:
                py_nodes.append("GroupsInPandas")
            if "ArrowEvalPythonUDTF" in plan:
                py_nodes.append("UDTF(Arrow)")
            elif "BatchEvalPythonUDTF" in plan:
                py_nodes.append("UDTF(Batch)")
            notes = ""
            if "Scan ExistingRDD" in plan:
                notes = "RDD-backed (compat path)"
            if "TakeOrderedAndProject" in plan:
                notes = (notes + "; " if notes else "") + "TakeOrdered"
            lines.append(
                f"| {name} | {n_ex} | {bcast} | {pushed} | {'+'.join(py_nodes)} | {notes} |"
            )
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERR | | | | {type(exc).__name__} |")
    spark.stop()
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    # argparse + existing-dir check (r11 verdict item 8): a stray first
    # argument — even --help — used to be treated as the scale dir and
    # PLANS.md was clobbered with 190 ERR rows.  PLANS.md is written
    # only after a successful audit, and only without --dry-run.
    import argparse
    import sys

    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="testdata scale directory (default: %(default)s)",
    )
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="print the table without rewriting PLANS.md",
    )
    ap.add_argument(
        "--dump",
        metavar="DIR",
        help="write each query's normalized plan to DIR/<query>.txt instead",
    )
    ap.add_argument(
        "--diff",
        nargs=2,
        metavar=("A", "B"),
        help="list the queries whose dumps differ between A and B",
    )
    args = ap.parse_args()
    if args.diff:
        changed = diff(*args.diff)
        for name in changed:
            print(name)
        print(f"{len(changed)} queries differ", file=sys.stderr)
        sys.exit(1 if changed else 0)
    if not os.path.isdir(args.sf_dir):
        ap.error(f"scale dir does not exist: {args.sf_dir}")
    if args.dump:
        dump(args.sf_dir, args.dump)
        sys.exit(0)
    out = audit(args.sf_dir)
    if not args.dry_run:
        with open("PLANS.md", "w") as fh:
            fh.write(out)
    print(out)
