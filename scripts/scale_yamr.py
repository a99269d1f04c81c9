"""Second-scale validation for the LAST unmeasured subsystem: the
custom ``yamr`` DataSource and its streaming path (every other §4 row
is a batch-relational query).

Measures, at sf0.1 and at the 10x replica (same local[32] session):

1. batch write (two-phase commit, per-chunk min/max stats sidecar),
   range-clustered on the value so stats are selective;
2. stats-pruned narrow-range read vs full-scan read — plus the pruned
   chunk fraction computed from the stats sidecar (the pushFilters
   contract: pruning picks which chunks to OPEN, Spark re-filters
   rows);
3. exactly-once streaming sink: parquet source -> writeStream
   format("yamr"), availableNow with multiple micro-batches (one
   OCC manifest commit per batch);
4. vacuum over the accumulated snapshot history (cost ~ #files +
   manifest parses, never data volume).

Usage: python scripts/scale_yamr.py [replica_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from _measure import median_s

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

from pyspark.sql import functions as F  # noqa: E402

from yet_another_map_reduce_spark.session import build_session  # noqa: E402
from yet_another_map_reduce_spark.sources import yamr_format  # noqa: E402
from yet_another_map_reduce_spark.sources.readers import read_table  # noqa: E402

SF01 = "/root/testdata/sf0.1"


def run_scale(spark, sf_dir: str, tag: str) -> dict:
    root = tempfile.mkdtemp(prefix=f"yamr_scale_{tag}_")
    out = os.path.join(root, "tbl")
    res: dict = {}

    # zero-padded orderkey => lexicographic == numeric order, so
    # range-clustering by value gives chunks disjoint [lo, hi] spans
    vals = read_table(spark, sf_dir, "orders").select(
        F.format_string("%012d,%.2f", "o_orderkey", "o_totalprice").alias("value")
    )
    n = vals.count()
    res["rows"] = n

    def write_once():
        vals.repartitionByRange(32, "value").write.format("yamr").option(
            "path", out
        ).option("name", "tx").mode("overwrite").save()

    # median_s's warm-up write absorbs Python-worker spin-up and
    # range-sampler JIT so the 1x row isn't charged for session startup
    t = median_s(write_once, runs=1)
    res["write_s"] = t
    res["write_rows_per_s"] = n / t

    reader = lambda: spark.read.format("yamr").option("path", out).option(  # noqa: E731
        "name", "tx"
    ).load()
    res["full_read_s"] = median_s(lambda: reader().agg(F.count("*")).collect())

    # narrow range ~ 1/32 of the keyspace; selectivity from the sidecar
    lo, hi = "000000050000", "000000054999"
    stats = yamr_format.read_chunk_stats(root + "/tbl", "tx")
    manifest = yamr_format.read_manifest(out, "tx")
    opened = sum(
        1
        for f, _ in manifest
        if f not in stats or not (stats[f][1] < lo or stats[f][0] > hi + "\xff")
    )
    res["chunks_total"] = len(manifest)
    res["chunks_opened"] = opened
    res["pruned_read_s"] = median_s(
        lambda: reader()
        .where((F.col("value") >= lo) & (F.col("value") < hi))
        .agg(F.count("*"))
        .collect()
    )

    # exactly-once streaming sink: 8 source files, 2 per micro-batch
    src_dir = os.path.join(root, "src")
    ck = os.path.join(root, "ck")
    vals.repartition(8).write.mode("overwrite").parquet(src_dir)
    t0 = time.perf_counter()
    q = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
        .writeStream.format("yamr")
        .option("path", out)
        .option("name", "ev")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(1200)
    t = time.perf_counter() - t0
    res["stream_s"] = t
    res["stream_rows_per_s"] = n / t
    res["stream_versions"] = len(yamr_format.list_versions(out, "ev"))
    back = (
        spark.read.format("yamr")
        .option("path", out)
        .option("name", "ev")
        .load()
        .count()
    )
    assert back == n, f"exactly-once violated: {back} != {n}"

    # a few more snapshots, then vacuum everything unreachable
    for _ in range(3):
        vals.limit(1000).write.format("yamr").option("path", out).option(
            "name", "tx"
        ).mode("append").save()
    files_before = len(os.listdir(out))
    t0 = time.perf_counter()
    vac = yamr_format.vacuum(out, "tx", keep_versions=1, retention_seconds=0)
    res["vacuum_s"] = time.perf_counter() - t0
    res["vacuum_removed"] = (
        vac.get("removed", vac) if isinstance(vac, dict) else vac
    )
    res["files_before"] = files_before
    shutil.rmtree(root, ignore_errors=True)
    return res


def main() -> None:
    replica = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_replica"
    spark = build_session(app_name="yamr-scale")
    yamr_format.register(spark)
    a = run_scale(spark, SF01, "1x")
    b = run_scale(spark, replica, "10x")
    keys = [
        ("rows", "rows"),
        ("write_s", "batch write (s)"),
        ("write_rows_per_s", "batch write rows/s"),
        ("full_read_s", "full read (s)"),
        ("pruned_read_s", "stats-pruned read (s)"),
        ("chunks_opened", "chunks opened"),
        ("chunks_total", "chunks total"),
        ("stream_s", "stream sink (s)"),
        ("stream_rows_per_s", "stream sink rows/s"),
        ("stream_versions", "stream commits"),
        ("vacuum_s", "vacuum (s)"),
        ("vacuum_removed", "vacuum removed"),
    ]
    print(f"{'metric':26s} {'sf0.1':>12s} {'10x':>12s} {'ratio':>7s}")
    for k, label in keys:
        va, vb = a[k], b[k]
        ratio = (vb / va) if isinstance(va, (int, float)) and va else float("nan")
        fmt = lambda v: f"{v:12.2f}" if isinstance(v, float) else f"{v:>12}"  # noqa: E731
        print(f"{label:26s} {fmt(va)} {fmt(vb)} {ratio:7.2f}")


if __name__ == "__main__":
    main()
