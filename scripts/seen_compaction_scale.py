"""Measure minor vs major seen-relation compaction at the 10,000x
scale point — the claim behind compact_seen(major=False): nightly
maintenance should cost O(new data since last maintenance), not
O(corpus), while the per-batch pruned probe stays sub-linear across
the resulting levels.

Setup: hardlink-copy the cached 50M-fp sorted generation (built by
scripts/ingest_dedup_scale.py) into a scratch seen_dir, land two fresh
raw batch dirs (~5k fps each), then time:
  1. minor compaction  (folds only the ~10k new fps)
  2. pruned probe across the resulting two levels
  3. major compaction  (rewrites the full 50M relation)

Run idle with SPARK_GRAFT_DRIVER_MEM=48g (the major leg scans 50M rows
in a single local JVM).

Usage: python scripts/seen_compaction_scale.py [scale]
  scale: replica factor of the cached sorted generation (default 10000
  = 50M fps; 40000 = 200M fps — the r13 fixture), matching a prior
  `scripts/ingest_dedup_scale.py <scale> only` run.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

from _measure import median_s, warn_if_loaded

from pyspark.sql import functions as F

from yet_another_map_reduce_spark.operators import dedup
from yet_another_map_reduce_spark.session import build_session
from yet_another_map_reduce_spark.sources.readers import read_table
from yet_another_map_reduce_spark.streaming.ingest import (
    compact_seen,
    read_seen_pruned,
    seen_probe_paths,
)

SCRATCH = "/tmp/seen_lsm_scratch"


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
    base = f"/tmp/ingest_seen_sorted_{scale}x/batch=-2"
    warn_if_loaded()
    if not os.path.isdir(base):
        sys.exit(f"run scripts/ingest_dedup_scale.py {scale} only first (builds the relation)")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    # hardlink copy: instant, and compaction never mutates files in
    # place (it writes a new generation then rmtree's the old dir,
    # which only unlinks — the cached fixture's inodes survive)
    subprocess.run(["cp", "-al", base, os.path.join(SCRATCH, "batch=-2")], check=True)

    spark = build_session(app_name="seen-compaction-scale")
    docs = read_table(spark, "/root/testdata/sf0.1", "documents")
    batch = docs.where(F.col("doc_id") < 500)
    keys = dedup.batch_fp_keys(batch, "text")

    # two fresh raw batch dirs (the "since last maintenance" increment)
    for b in range(2):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 2 == b), "text"
        ).write.mode("overwrite").parquet(os.path.join(SCRATCH, f"batch={b}"))

    t0 = time.perf_counter()
    n_minor = compact_seen(spark, SCRATCH, major=False)
    t_minor = time.perf_counter() - t0
    levels = sorted(d for d in os.listdir(SCRATCH) if d.startswith("batch="))
    print(f"minor compaction: {t_minor:.2f}s folded {n_minor:,} fps -> levels {levels}")

    def probe():
        dedup.incremental_dedup(
            batch, read_seen_pruned(spark, SCRATCH, keys), "text", "doc_id",
            seen_fp_col="fp",
        ).write.format("noop").mode("overwrite").save()

    t_probe = median_s(probe, runs=5)
    paths, selected, skipped = seen_probe_paths(SCRATCH, keys)
    print(
        f"pruned probe across {len(levels)} levels: median of 5 "
        f"{t_probe:.3f}s files={selected}/{selected + skipped}"
    )

    t0 = time.perf_counter()
    n_major = compact_seen(spark, SCRATCH)
    t_major = time.perf_counter() - t0
    print(f"major compaction: {t_major:.2f}s -> {n_major:,} distinct fps, one level")
    print(f"minor/major cost ratio: {t_minor / t_major:.4f}")
    spark.stop()
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
