"""Measure incremental_dedup's per-batch cost vs SEEN-relation size —
the scale claim behind the r11 join inversion AND the r12 prunable
layout: a micro-batch dedup against a 10,000×-larger accumulated corpus
should cost ~|keys| file probes against the range-sorted compacted
relation (sub-linear, O(keys·sqrt(n)) decode work), not a full scan.

Builds on-disk fingerprint relations at 1× / 100× / 10,000× (sf0.1
documents, salted replicas so rows are genuinely distinct), lays each
out through compact_seen's range-sorted + _fp_ranges.json path, and
times the SAME 500-doc batch dedup against each — full scan vs pruned
probe (seen_probe_paths / read_seen_pruned).

The 10,000× leg scans 50M rows in the full-scan arm: run with
SPARK_GRAFT_DRIVER_MEM=48g (local mode hosts executors in the driver
JVM; the default heap OOMs).

Usage: python scripts/ingest_dedup_scale.py [max_scale] [only]
  max_scale: 100 (default), 10000, or any replica factor (e.g. 40000
             for the ~200M-fps leg; 4,992 base fps per replica)
  only: measure just max_scale (skip the smaller legs)
"""

from __future__ import annotations

import os
import shutil
import sys

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


def _ensure_relation(spark, path: str, scale: int, base: str) -> None:
    """A seen_dir holding `scale` salted replicas of the base fp
    relation, laid out through compact_seen (range-sorted + sidecar)."""
    if os.path.exists(os.path.join(path, "batch=-2")):
        return
    shutil.rmtree(path, ignore_errors=True)
    fps = spark.read.parquet(base)
    reps = spark.range(scale).select(F.col("id").alias("rep"))
    (
        fps.crossJoin(reps)
        .select(
            F.when(F.col("rep") == 0, F.col("fp"))
            .otherwise(F.md5(F.concat_ws(":", "fp", "rep")))
            .alias("fp")
        )
        .write.parquet(os.path.join(path, "batch=0"))
    )
    # second (empty-ish) generation so compact_seen's >1-dir branch runs
    fps.limit(1).write.parquet(os.path.join(path, "batch=1"))
    n = compact_seen(spark, path)
    print(f"  built {path}: {n:,} fps (range-sorted, sidecar)")


def main() -> None:
    max_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    warn_if_loaded()
    spark = build_session(app_name="ingest-dedup-scale")
    docs = read_table(spark, "/root/testdata/sf0.1", "documents")
    batch = docs.where(F.col("doc_id") < 500)
    keys = dedup.batch_fp_keys(batch, "text")

    base = "/tmp/ingest_seen_1x"
    if not os.path.exists(base):
        dedup.batch_fingerprints(docs, "text").write.parquet(base)

    scales = sorted(
        {s for s in (1, 100, 10_000, max_scale) if s <= max_scale}
    )
    if len(sys.argv) > 2 and sys.argv[2] == "only":
        scales = [max_scale]
    for scale in scales:
        seen_dir = f"/tmp/ingest_seen_sorted_{scale}x"
        _ensure_relation(spark, seen_dir, scale, base)
        gen = os.path.join(seen_dir, "batch=-2")
        paths, selected, skipped = seen_probe_paths(seen_dir, keys)
        n = spark.read.parquet(gen).count()

        for mode in ("full", "pruned"):
            def run():
                seen = (
                    spark.read.parquet(gen)
                    if mode == "full"
                    else read_seen_pruned(spark, seen_dir, keys)
                )
                dedup.incremental_dedup(
                    batch, seen, "text", "doc_id", seen_fp_col="fp"
                ).write.format("noop").mode("overwrite").save()

            extra = (
                f" files={selected}/{selected + skipped}"
                if mode == "pruned"
                else ""
            )
            print(
                f"seen={scale}x rows={n:,} {mode}: median of 5 "
                f"{median_s(run, runs=5):.3f}s{extra}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
