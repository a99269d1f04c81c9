"""Partitioned sinks (reference F1 "WRITE" + F10 part-file naming → Spark writers).

The reference splits a file into W equal line-count chunks, pads with
blanks when lines < W, and registers a manifest
(``/root/reference/Client/client.py:147-191``).  Spark's writer emits one
``part-*`` file per partition natively and empty partitions are legal, so
the equal-split is just ``repartition(n)`` and the manifest is the file
listing + parquet footers.  At 100 TB you never collect to a driver file:
the directory IS the dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prep(df: DataFrame, num_partitions: int | None, partition_cols: list[str] | None) -> DataFrame:
    if num_partitions is not None and partition_cols:
        return df.repartition(num_partitions, *partition_cols)
    if num_partitions is not None:
        return df.repartition(num_partitions)
    if partition_cols:
        return df.repartition(*partition_cols)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_partitions: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Columnar sink.  ``partition_by`` gives hive-style directory
    partitioning (the scale path for time/tenant pruning); repartition by
    the same cols first so each output file covers one partition value."""
    out = _prep(df, num_partitions, partition_by)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite", num_partitions: int | None = None) -> None:
    """Line-text sink: the faithful analog of the reference's stored
    dataset (one text part per worker, ``Worker/worker.py:52-69``)."""
    _prep(df, num_partitions, None).write.mode(mode).text(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    sep: str = ",",
    header: bool = False,
    num_partitions: int | None = None,
) -> None:
    _prep(df, num_partitions, None).write.mode(mode).option("sep", sep).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", num_partitions: int | None = None) -> None:
    _prep(df, num_partitions, None).write.mode(mode).json(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    num_partitions: int | None = None,
) -> None:
    """Dynamic partition overwrite: replace ONLY the hive partitions
    present in ``df``, leaving sibling partitions untouched.

    This is the idempotent-backfill primitive at scale — re-running one
    day's job rewrites ``dt=2026-08-13`` without truncating the other
    3649 partitions of a 10-year table.  Plain ``mode("overwrite")``
    with static overwrite mode would delete the whole root path first.
    """
    out = _prep(df, num_partitions, partition_by)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_partitions: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Columnar ORC sink with the same hive-partitioning contract as
    :func:`write_parquet`."""
    out = _prep(df, num_partitions, partition_by)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite ``src`` into ``dst`` with file
    sizes near ``target_file_bytes``.  Returns the output file count.

    The small-files problem is the classic slow death of a streaming
    ingest at scale (every micro-batch a sliver; a year later the
    listing alone takes minutes).  Sizing uses the actual on-disk bytes
    — never ``count()`` — so the planning cost is one file listing.

    ``src`` must be a LOCAL path this process can walk: sizing uses
    ``os.walk``, so a remote URI (hdfs://, s3://) or a typo'd path
    would yield total=0 and silently funnel the whole dataset through
    ONE task into one giant file — fail loudly instead (a remote
    deployment swaps the sizing for a Hadoop FS listing).
    """
    import math
    import os

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    if total == 0:
        raise FileNotFoundError(
            f"compact_parquet: no local .parquet bytes under {src!r} — "
            "remote URIs and empty/mistyped paths would otherwise "
            "silently rewrite the dataset through a single task"
        )
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    num_shards: int,
    seed: int = 0,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a training corpus as deterministic, read-order-stable
    shards — the last mile of a corpus-prep pipeline (what the trainer's
    data loader consumes).

    Shard membership is an explicit pure function of the row id:
    ``shard_id = shuffle_key DIV ceil(2^60 / num_shards)`` — fixed-width
    cuts of ``md5_hash64``'s 60-bit domain, not sampled range
    boundaries — so both the global example order AND the per-shard
    row sets are bit-stable across runs, cluster layouts, and Spark
    versions.  (``repartitionByRange`` alone can't promise the latter:
    its boundaries come from reservoir sampling seeded by the RDD id.)
    Each shard is a contiguous ``shuffle_key`` range, so concatenating
    the shard dirs in ``shard_id`` order replays the global
    deterministic order; a different ``seed`` re-deals both order and
    membership for a new epoch.

    Layout: Hive-partitioned ``shard_id=N/`` directories — one file per
    shard unless ``max_records_per_file`` splits it for loaders that
    stream fixed-size chunks.  Scale shape: one RANGE shuffle on the
    ≤``num_shards``-value shard key — not ``repartition(num_shards,
    "shard_id")``, which HASHES the shard values into the same number
    of buckets and balls-in-bins leaves ~1/e of the write tasks empty
    while stragglers carry 2-4 shards (~4× the balanced wall-clock at
    corpus scale); range placement is ~1:1 shard-to-task and a single
    shard value can never split across range boundaries, so output
    CONTENT is identical either way (range sampling only moves task
    placement, membership stays the pure hash function above) — then a
    per-task sort and a parallel write; no global sort bottleneck, no
    driver materialization.  The within-file sort carries the
    ``id_col`` tiebreak: at ~10^9+ ids the 2^60 hash domain yields
    expected shuffle_key collisions, and without the tiebreak two
    colliding rows would land in nondeterministic relative file order
    — breaking the bit-stable read-order contract the loader relies on
    (``deterministic_shuffle`` and ``read_training_shards`` already
    tiebreak on the id).
    """
    from yet_another_map_reduce_spark.operators.sampling import deterministic_shuffle

    width = ((1 << 60) + num_shards - 1) // num_shards
    shards = deterministic_shuffle(df, id_col, seed=seed).withColumn(
        "shard_id", F.expr(f"CAST(shuffle_key DIV {width} AS INT)")
    )
    writer = (
        shards.repartitionByRange(num_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shuffle_key", id_col)
        .write.mode(mode)
        .partitionBy("shard_id")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def read_training_shards(spark, path: str, id_col: str, epoch_seed: int | None = None):
    """Loader-side twin of :func:`write_training_shards`: read the shard
    set back in its written order, or — with ``epoch_seed`` — in a fresh
    deterministic per-epoch order (re-hash by the new seed, same
    layout-invariance guarantees; no rewrite of the shards needed
    between epochs)."""
    from yet_another_map_reduce_spark.operators.sampling import deterministic_shuffle

    df = spark.read.parquet(path)
    if epoch_seed is None:
        return df.orderBy("shuffle_key", id_col)
    # drop the written epoch's order AND membership columns before
    # re-dealing — both are functions of the old seed
    return deterministic_shuffle(
        df.drop("shuffle_key", "shard_id"), id_col, seed=epoch_seed
    )
