"""Full-registry scale sweep: run EVERY registered query once against a
replica dir (scripts/scale_replica.py) and once against sf0.1, print
per-query seconds + ratio, worst-first.

Different goal from scale_check.py (median-of-3 on a curated list, for
BASELINE.md rows): this is the DISCOVERY pass — one cold run per query
over the whole registry to find super-linear outliers that the curated
list misses.  Queries whose inputs are doc-id-bounded are expected to be
~constant; anything corpus-linear should ride the data ratio; anything
well above it is a finding to fix, then re-measure properly with
scale_check.py.

A watchdog cancels a query's job group after ``BUDGET_S`` so one
pathological plan can't eat the sweep.

Usage: python scripts/scale_sweep.py [replica_dir] [budget_s] [query ...]
"""

from __future__ import annotations

import os
import sys
import threading
import time

from _measure import warn_if_loaded

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from yet_another_map_reduce_spark.queries import QUERIES  # noqa: E402
from yet_another_map_reduce_spark.session import build_session  # noqa: E402

SF01 = "/root/testdata/sf0.1"


def timed(spark, name, sf_dir, budget_s) -> float | None:
    """One forced run; None on timeout (job group cancelled)."""
    out: dict = {}

    def run():
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel=True)
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out["t"] = time.perf_counter() - t0
        except Exception as e:  # cancelled or failed
            out["err"] = f"{type(e).__name__}"

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(budget_s)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(name)
        th.join(30)
        return None
    return out.get("t")


def main() -> None:
    replica = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_replica"
    budget_s = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    names = sys.argv[3:] or sorted(QUERIES)
    spark = build_session()
    warn_if_loaded()
    rows = []
    for i, name in enumerate(names):
        t1 = timed(spark, name, SF01, budget_s)
        tn = timed(spark, name, replica, budget_s) if t1 is not None else None
        ratio = (tn / t1) if (t1 and tn) else None
        rows.append((name, t1, tn, ratio))
        print(
            f"[{i + 1}/{len(names)}] {name:36s} "
            f"{t1 if t1 is not None else 'ERR/TO':>8} "
            f"{tn if tn is not None else 'ERR/TO':>8} "
            f"{f'{ratio:.2f}' if ratio else '-':>7}",
            flush=True,
        )
    print("\n==== worst-first ====")
    for name, t1, tn, ratio in sorted(
        rows, key=lambda r: (r[3] is None, r[3] or 0), reverse=True
    ):
        print(
            f"{name:36s} sf0.1={t1 if t1 is not None else 'X':>8} "
            f"repl={tn if tn is not None else 'X':>8} "
            f"ratio={f'{ratio:.2f}' if ratio else 'TIMEOUT/ERR'}"
        )


if __name__ == "__main__":
    main()
