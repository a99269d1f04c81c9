"""Cold-session persisted-index search at scale (r8 verdict item 5;
r9 verdict item 6 adds corpus-aware nlist).

The plan test pins that ``search_ivfpq_index`` with the ``_model.json``
sidecar runs zero corpus scans and zero training; this script MEASURES
it at the 100× replica: build the index once (the train-once half,
priced separately), then search from a genuinely cold session — a
separate ``--search-only`` process (fresh JVM, empty caches) — timing
the first search and the warm median.

Round 10: the build uses ``build_ivfpq_index_auto`` (nlist =
ceil(sqrt(n/8)), the sizing the registered query now ships), so the
report includes nlist and the PROBED FRACTION nprobe/nlist — the
fraction must SHRINK as the corpus grows (25% at sf0.1 → ~2.5% at
100×), which is what keeps per-query index I/O sqrt-bounded.

Expected shape: search cost ~constant in corpus size (probe reads
``nprobe/nlist`` of the index files, bytes per vector), which is the
strongest ANN-at-scale evidence the suite can produce locally.

Usage:
  python scripts/persisted_index_scale.py [replica_dir]      # build + spawn cold search
  python scripts/persisted_index_scale.py --search-only DIR INDEX_DIR
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from _measure import median_s

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

SF01 = "/root/testdata/sf0.1"


def index_dir_for(sf_dir: str, nlist: int) -> str:
    import tempfile

    from yet_another_map_reduce_spark.caching import data_version

    fp = data_version(os.path.join(sf_dir, "embeddings.parquet"))
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(
        tempfile.gettempdir(), f"ivfpq_index_{key}_{fp}_nl{nlist}"
    )


def build(spark, sf_dir: str) -> str:
    from pyspark.sql import functions as F  # noqa: F401

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.operators.dedup import sized_nlist
    from yet_another_map_reduce_spark.queries import _pq_books
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    nlist = sized_nlist(n)
    idx = index_dir_for(sf_dir, nlist)
    print(
        f"sizing {sf_dir}: n={n} nlist={nlist} "
        f"probed_fraction={4 / nlist:.4f} (nprobe=4)"
    )
    if similarity.load_ivfpq_model(spark, idx)[0] is None:
        t0 = time.perf_counter()
        similarity.build_ivfpq_index_auto(
            emb, "vec_id", "embedding", idx, books=_pq_books(emb, sf_dir), n=n
        )
        print(f"build  {sf_dir}: {time.perf_counter() - t0:7.2f}s -> {idx}")
    else:
        print(f"build  {sf_dir}: reused committed index at {idx}")
    return idx


def search_only(sf_dir: str, idx: str) -> None:
    """Runs in a FRESH process: session build excluded from timings,
    but no model/corpus state can possibly be warm."""
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.session import build_session
    from yet_another_map_reduce_spark.sources.readers import read_table

    spark = build_session()
    spark.range(1).count()  # JVM up; exclude startup from search timing

    def run() -> float:
        t0 = time.perf_counter()
        similarity.search_ivfpq_index(
            spark,
            idx,
            queries=read_table(spark, sf_dir, "embeddings").where(
                F.col("vec_id") < 5
            ),
            id_col="vec_id",
            vec_col="embedding",
            k=10,
            nprobe=4,
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    cold = run()
    warm = median_s(run)
    print(f"search {sf_dir}: cold {cold:6.2f}s  warm-median {warm:6.2f}s")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--search-only":
        search_only(sys.argv[2], sys.argv[3])
        return
    replica = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_replica"
    from yet_another_map_reduce_spark.session import build_session

    spark = build_session()
    dirs = {sf: build(spark, sf) for sf in (SF01, replica)}
    spark.stop()
    for sf, idx in dirs.items():
        subprocess.run(
            [sys.executable, __file__, "--search-only", sf, idx],
            check=True,
        )


if __name__ == "__main__":
    main()
