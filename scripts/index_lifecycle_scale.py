"""Measure the persisted IVF-PQ index lifecycle's remaining legs at
scale (r9 verdict item 5): COMPACTION (fold appended segments into one)
and VACUUM (reclaim unreachable versions/segments), on the same corpus
pair the append/search measurements used (sf0.1 vs an N× replica).

Protocol: build the index on the even-vec_id half (auto-sized nlist),
append the odd half as a second segment (the measured r9 leg, re-timed
here for context), then time compact_ivfpq_index and — after the
retention window is zeroed for the measurement — vacuum_ivfpq_index,
reporting reclaimed bytes.  A 5-query search runs before and after
compaction and the result sets are compared EXACTLY (the bit-identical
contract the correctness tests pin at sf0.001, re-checked at scale).

Expected shape: compaction is pure data movement (read codes + write
codes, no model math) so it should scale ~linearly in INDEX bytes —
which are bytes-per-vector, two decades smaller than the corpus; vacuum
is directory listing + unlink, near-constant.

Usage: python scripts/index_lifecycle_scale.py [replica_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from _measure import warn_if_loaded

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

SF01 = "/root/testdata/sf0.1"


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def lifecycle(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.operators.dedup import sized_nlist
    from yet_another_map_reduce_spark.queries import _pq_books
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    nlist = sized_nlist(n)
    idx = os.path.join(
        tempfile.gettempdir(), f"ivfpq_lifecycle_{sf_dir.strip('/').replace('/', '_')}"
    )
    shutil.rmtree(idx, ignore_errors=True)

    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    books = _pq_books(emb, sf_dir)

    t0 = time.perf_counter()
    similarity.build_ivfpq_index_auto(
        even, "vec_id", "embedding", idx, books=books, n=n // 2
    )
    t_build = time.perf_counter() - t0

    t0 = time.perf_counter()
    similarity.append_to_ivfpq_index(spark, idx, odd, "vec_id", "embedding")
    t_append = time.perf_counter() - t0

    def search():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["adist"], r["qrank"])
            for r in similarity.search_ivfpq_index(
                spark,
                idx,
                queries=emb.where(F.col("vec_id") < 5),
                id_col="vec_id",
                vec_col="embedding",
                k=10,
                nprobe=4,
            ).collect()
        )

    before = search()
    pre_bytes = du(idx)
    pre_entries = sum(1 for e in os.listdir(idx) if e.startswith(("v_", "seg_")))

    t0 = time.perf_counter()
    similarity.compact_ivfpq_index(spark, idx)
    t_compact = time.perf_counter() - t0
    after = search()
    assert after == before, "compaction changed search results"

    t0 = time.perf_counter()
    stats = similarity.vacuum_ivfpq_index(idx, keep_versions=0, retention_seconds=0.0)
    t_vacuum = time.perf_counter() - t0
    post_bytes = du(idx)
    post_entries = sum(1 for e in os.listdir(idx) if e.startswith(("v_", "seg_")))
    final = search()
    assert final == before, "vacuum broke the live version"

    print(
        f"{sf_dir}: n={n} nlist(half)={sized_nlist(n // 2)} "
        f"build {t_build:.2f}s append {t_append:.2f}s "
        f"compact {t_compact:.2f}s (bit-identical search: yes) "
        f"vacuum {t_vacuum:.3f}s removed={stats} "
        f"bytes {pre_bytes / 1e6:.1f}MB->{post_bytes / 1e6:.1f}MB "
        f"entries {pre_entries}->{post_entries}",
        flush=True,
    )
    shutil.rmtree(idx, ignore_errors=True)


def main() -> None:
    replica = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100_replica"
    from yet_another_map_reduce_spark.session import build_session

    spark = build_session(app_name="index-lifecycle-scale")
    warn_if_loaded()
    for sf in (SF01, replica):
        lifecycle(spark, sf)


if __name__ == "__main__":
    main()
