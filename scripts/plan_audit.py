"""Physical-plan audit over every registered query → PLANS.md.

For each query: shuffle-exchange count, broadcast usage, whether
parquet scans carry pushed filters, and Python-eval nodes in the plan
(ArrowEvalPython = vectorized OK; BatchEvalPython = row-at-a-time BAD).
The table is committed as PLANS.md so plan-shape regressions show up in
diffs, not just in wall-clock.
"""

from __future__ import annotations

import re

import _measure  # noqa: F401  (repo root on sys.path)

from yet_another_map_reduce_spark import plans
from yet_another_map_reduce_spark.queries import QUERIES
from yet_another_map_reduce_spark.session import build_session


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
    import os

    ap = argparse.ArgumentParser(description=__doc__)
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
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        ap.error(f"scale dir does not exist: {args.sf_dir}")
    out = audit(args.sf_dir)
    if not args.dry_run:
        with open("PLANS.md", "w") as fh:
            fh.write(out)
    print(out)
