"""Second-scale validation: run the most expensive queries at sf0.1
AND at a 10× replica (scripts/scale_replica.py), print sec + ratio.

A claimed-scale-safe operator should scale sub-linearly to ~linearly
(ratio ≲ 10 on 10× data at fixed parallelism); anything super-linear
is a real finding.  Results are recorded in BASELINE.md §"Second-scale
validation".

Usage: python scripts/scale_check.py [replica_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

from _measure import median_s, warn_if_loaded

# 10x data needs a real heap in local mode (the suite default 1g OOMs)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from yet_another_map_reduce_spark.queries import QUERIES  # noqa: E402
from yet_another_map_reduce_spark.session import build_session  # noqa: E402

SF01 = "/root/testdata/sf0.1"

DEFAULT = [
    "ann_pq_topk",
    "ann_recall_report",
    "ann_ivfpq_topk",
    "ann_ivfpq_persisted",
    "pipeline_corpus_hygiene",
    "dedup_components_star",
    "ann_quantized_topk",
    "dedup_canonicalize",
    "agg_percentiles_approx",
    "embedding_kmeans_clusters",
    "graph_pagerank",
    "heavy_hitters_tokens",
]


def main() -> None:
    replica = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_replica"
    names = sys.argv[2:] or DEFAULT
    spark = build_session(app_name="scale-check")
    warn_if_loaded()

    def force(q, sf_dir):
        return lambda: QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()

    print(f"{'query':34s} {'sf0.1':>8s} {'10x':>8s} {'ratio':>6s}", flush=True)
    for q in names:
        a = median_s(force(q, SF01))
        print(f"{q:34s} {a:8.2f}", end="", flush=True)
        b = median_s(force(q, replica))
        print(f" {b:8.2f} {b / a:6.2f}", flush=True)


if __name__ == "__main__":
    main()
