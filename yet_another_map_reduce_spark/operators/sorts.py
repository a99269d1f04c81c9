"""Global and grouped rank operators.

The reference sorts twice, both lexicographically on raw lines: the
pre-reduce partition sort (``/root/reference/Worker/worker.py:179-183``)
and the client-side global sort at READ (``Client/client.py:105-108``).
Spark equivalents are typed and distributed: ``sortWithinPartitions`` is
the exact analog of the former; ``orderBy`` does a range-partitioned
global sort (sampled bounds, no single-node merge) for the latter, and
``orderBy().limit(k)`` plans as TakeOrderedAndProject (per-partition
top-k, then a merge of k·P rows).  Queries call those directly; this
module holds the exact global rank that Spark has no single call for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def global_ranked(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """Exact global rank over a TOTAL order — without the
    single-partition global window (``Window.orderBy`` with no
    partitionBy moves the whole relation through ONE task; Spark warns
    ``WindowExec: No Partition Defined`` at runtime, and at 100 TB that
    task is the job).

    Two-phase range ranking, the distributed-sort construction:

    1. ``repartitionByRange`` on the order columns — ascending
       partition ids follow the requested order, so partition p holds
       exactly the rows ranked after every row of partitions < p —
       then ``sortWithinPartitions`` (local sort, no exchange);
    2. ``monotonically_increasing_id`` over the sorted partitions:
       within a partition it increments by one per physical row, so
       ``mid - min(mid within partition)`` IS the 0-based local rank —
       no window, no second shuffle (``Window.partitionBy(pid)`` would
       re-shuffle the whole relation by pid on top of the range
       exchange);
    3. per-partition (count, min mid) — one tiny row per partition —
       turn into cumulative offsets;
       ``rank = (mid - min_mid) + 1 + offset[pid]``.

    The offsets relation is partition-count-sized (dozens-to-thousands
    of rows at any scale — a cluster-config bound, not a data bound),
    so its own unpartitioned window and the broadcast join are both
    O(#partitions).  Range boundaries come from sampling and may place
    ties on either side of a boundary, so ``order_cols`` must be a
    total order (include a unique tiebreaker) — which row_number
    semantics need for determinism anyway.

    ``total_col``: also attach the total row count (e.g. for
    percent_rank = (rank-1)/(n-1) or ntile bucketing).  It is
    ``sum(__cnt) over ()`` in the same partition-count-sized offsets
    window, so it rides on the offsets' broadcast join: no second
    aggregate and no cross join, and callers never recount the input
    through its own (possibly expensive) lineage.  Collecting the rank
    of 500 rows in 13 partitions (local[4]) ran 9 jobs with a separate
    total aggregate plus a broadcast cross join, and runs 6 this way.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Contracts this construction pins (deliberately NOT a corpus-sized
    # .cache(), which would be its own scale bug at 100 TB):
    #  * monotonically_increasing_id's documented layout — "partition ID
    #    in the upper 31 bits, record number within each partition in
    #    the lower 33 bits" (pyspark.sql.functions docstring) — i.e. ids
    #    are CONSECUTIVE within a partition, so mid - min(mid per
    #    partition) is the 0-based local rank;
    #  * `local` is consumed by two jobs (sizes agg, final join) but
    #    evaluates identically in both: the range exchange is planned
    #    once and reused (ReusedExchange, pinned by test_plans), and
    #    even on recompute RangePartitioner's boundary sampling is
    #    seeded from the RDD id (deterministic), the sort is total by
    #    the order-cols contract, and the id assignment is a pure
    #    function of partition layout.
    clash = sorted(
        {"__pid", "__mid", "__cnt", "__mid0", "__off", "__tot", rank_col}
        & set(df.columns)
    )
    if clash:
        raise ValueError(
            f"global_ranked: input already has column(s) {clash} (internal"
            "/output names) — rename them first (withColumn would clobber)"
        )
    local = (
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    sizes = local.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"), F.min("__mid").alias("__mid0")
    )
    # #partitions rows only: the unpartitioned window here is bounded
    # by cluster width, never by data volume
    byp = Window.orderBy("__pid")
    woff = byp.rowsBetween(Window.unboundedPreceding, -1)
    cols = [
        "__pid",
        "__mid0",
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off"),
    ]
    if total_col is not None:
        # same ordering, whole frame: one Window operator computes both
        wall = byp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cols.append(F.sum("__cnt").over(wall).cast("bigint").alias("__tot"))
    offs = sizes.select(*cols)
    out = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(
            rank_col,
            (F.col("__mid") - F.col("__mid0") + 1 + F.col("__off")).cast("bigint"),
        )
        .drop("__pid", "__mid", "__mid0", "__off")
    )
    if total_col is not None:
        # output order: input columns, rank, total
        out = out.withColumn(total_col, F.col("__tot")).drop("__tot")
    return out


def global_ranked_adaptive(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    total_col: str | None = None,
    single_task_threshold: int = 2_000_000,
    n: int | None = None,
) -> DataFrame:
    """Size-gated exact global rank: the unpartitioned-window form for
    small inputs, :func:`global_ranked` beyond ``single_task_threshold``
    rows.

    The distributed construction pays a fixed multi-stage overhead
    (range exchange + offsets join) that a single-task window beats by
    ~3x on sub-million-row inputs, while the single-task window is the
    thing that cannot scale (one task holds the relation).  The gate
    needs a row count: pass ``n`` if the caller already knows it,
    otherwise ``df.count()`` runs here — intended for cheap-lineage
    inputs (a column-pruned source scan counts from parquet metadata);
    for expensive lineage, count once yourself and pass ``n``.

    Both branches produce identical ranks (the order is total by the
    same contract global_ranked requires); when ``total_col`` is
    requested the small branch attaches the already-known ``n`` as a
    literal instead of recounting.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n is None:
        n = df.count()
    if n <= single_task_threshold:
        w = Window.orderBy(*order_cols)
        out = df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        if total_col is not None:
            out = out.withColumn(total_col, F.lit(int(n)).cast("bigint"))
        return out
    return global_ranked(df, order_cols, rank_col, total_col)


def grouped_ranked(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    rank_col: str = "rank",
    group_total_col: str | None = None,
) -> DataFrame:
    """Exact per-group rank for LOW-CARDINALITY groups over huge data —
    the shape where ``Window.partitionBy(group)`` is a scale bug: with a
    handful of group values (languages, splits, shards) every window
    partition is data-sized, so one task sorts the whole group no
    matter how wide the cluster is.

    Construction: :func:`global_ranked` over ``group_cols ++
    order_cols`` (groups are contiguous in the total order), then a
    groups-sized summary — ``min(global rank), count`` per group, a
    hash aggregate with map-side partials — broadcast back:
    ``rank_in_group = global_rank - first_rank_of_group + 1``.  The
    range exchange is planned once and reused by the summary branch
    (ReusedExchange, same contract global_ranked itself relies on for
    its offsets aggregation), so the corpus still moves through ONE
    skew-free exchange; everything added on top is O(#groups).

    ``group_total_col``: also attach each group's row count (for
    percent_rank = (rank-1)/(n_group-1), per-group ntile, quotas).
    The order must be total within each group (include a unique
    tiebreaker) — the global_ranked contract.

    The summary join-back is NULL-SAFE on the group keys: a window's
    ``partitionBy`` treats NULL as a group, so a plain (null-unsafe)
    equi-join here would silently DROP every NULL-keyed row from this
    tier while the adaptive small tier ranks them — entire groups
    appearing or vanishing with input size (r15 review finding).
    """
    from functools import reduce

    from pyspark.sql import functions as F

    gorder = [F.col(c).asc() for c in group_cols] + list(order_cols)
    g = global_ranked(df, gorder, "__grank")
    aggs = [F.min("__grank").alias("__g0")]
    if group_total_col is not None:
        aggs.append(F.count(F.lit(1)).cast("bigint").alias(group_total_col))
    per = g.groupBy(*group_cols).agg(
        *aggs
    )
    per = per.select(
        *[F.col(c).alias(f"__k_{c}") for c in group_cols],
        *[c for c in per.columns if c not in group_cols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [g[c].eqNullSafe(F.col(f"__k_{c}")) for c in group_cols],
    )
    out = (
        g.join(F.broadcast(per), cond)
        .withColumn(
            rank_col,
            (F.col("__grank") - F.col("__g0") + 1).cast("bigint"),
        )
        .drop("__grank", "__g0", *[f"__k_{c}" for c in group_cols])
    )
    return out


def grouped_ranked_adaptive(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    rank_col: str = "rank",
    group_total_col: str | None = None,
    single_task_threshold: int = 2_000_000,
    n: int | None = None,
) -> DataFrame:
    """Size-gated :func:`grouped_ranked`: below ``single_task_threshold``
    TOTAL rows the plain per-group window wins on fixed overhead (and at
    that size even a single hot group fits one task); above it, the
    distributed construction.  Same count contract as
    :func:`global_ranked_adaptive` — pass ``n`` when lineage is
    expensive.  Both tiers produce identical ranks and group totals.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if n is None:
        n = df.count()
    if n <= single_task_threshold:
        w = Window.partitionBy(*group_cols).orderBy(*order_cols)
        out = df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        if group_total_col is not None:
            out = out.withColumn(
                group_total_col,
                F.count(F.lit(1))
                .over(Window.partitionBy(*group_cols))
                .cast("bigint"),
            )
        return out
    return grouped_ranked(df, group_cols, order_cols, rank_col, group_total_col)
