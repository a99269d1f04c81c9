"""Join operators.

The reference has NO joins (SURVEY.md §2.3); its per-key hash co-location
(``/root/reference/Worker/worker.py:111-169``) is merely the substrate a
join would need.  Here the full join surface is provided Spark-first:
Catalyst picks broadcast-hash vs sort-merge vs shuffled-hash, and AQE can
switch strategy and split skewed partitions at runtime.

Scale notes (100 TB posture):
- Dimension tables (region/nation/supplier at any realistic scale) must
  broadcast — ``F.broadcast`` on the small side forces it; a plain
  ``df.join`` leaves the choice to Catalyst +
  ``spark.sql.autoBroadcastJoinThreshold``.
- ``asof_join`` is implemented as union + single sort-shuffle (one wide
  exchange, no per-row subquery) — the only scalable shape for as-of at
  billions of rows.
- ``range_join`` buckets both sides on a coarse grid first so the join is
  an equi-join on bucket + residual predicate, not a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Point-in-interval join: left.point ∈ [right.lo, right.hi].

    Naive theta-join is O(|L|·|R|).  Instead each right interval is
    exploded onto the coarse buckets it covers and the join becomes an
    equi-join on bucket with a residual range filter —
    the standard trick behind Databricks' range-join hints, expressed in
    plain DataFrame ops.  Choose ``bucket_width`` ≈ typical interval
    length so intervals explode into O(1) buckets.

    The exploded interval side is always broadcast (a map-side join):
    bucket keys are inherently low-cardinality, so a shuffled join on
    them is pathologically skewed — statistics after the explode are
    unknown to Catalyst, which otherwise picks exactly that plan.
    """
    lb = F.floor(F.col(left_point) / F.lit(bucket_width))
    l2 = left.withColumn("__bucket", lb)
    r2 = F.broadcast(
        right.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(right_lo) / F.lit(bucket_width)),
                    F.floor(F.col(right_hi) / F.lit(bucket_width)),
                )
            ),
        )
    )
    # per-side attribute references in the residual: bare F.col() is an
    # AMBIGUOUS_REFERENCE whenever the two inputs share column names —
    # the normal case for same-schema interval data
    return (
        l2.join(r2, on=["__bucket"], how="inner")
        .where((l2[left_point] >= r2[right_lo]) & (l2[left_point] <= r2[right_hi]))
        .drop("__bucket")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Interval-interval overlap join: [l_lo,l_hi] ∩ [r_lo,r_hi] ≠ ∅.

    Both sides explode onto the coarse buckets their interval covers and
    join as an equi-join on bucket.  A pair overlapping several buckets
    would match multiple times — instead of a dedup shuffle, a match is
    only accepted in the single bucket containing the overlap's start
    (``bucket == floor(max(lo_l, lo_r)/width)``), so the output is
    duplicate-free by construction.  The right side is broadcast, as in
    :func:`range_join` and for the same reason.
    """

    def exploded(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(bucket_width)),
                    F.floor(F.col(hi) / F.lit(bucket_width)),
                )
            ),
        )

    l2 = exploded(left, left_lo, left_hi)
    r2 = F.broadcast(exploded(right, right_lo, right_hi))
    # per-side refs: bare F.col() is ambiguous for same-schema sides
    overlap_start = F.greatest(l2[left_lo], r2[right_lo])
    return (
        l2.join(r2, on=["__bucket"], how="inner")
        .where(
            (l2[left_lo] <= r2[right_hi])
            & (r2[right_lo] <= l2[left_hi])
            & (F.col("__bucket") == F.floor(overlap_start / F.lit(bucket_width)))
        )
        .drop("__bucket")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_time <= left_time``, matched on key ``on``.

    Implementation: tag and union both sides, then one window pass
    ordered by (time, side) carrying the last non-null right values
    forward within each key.  Exactly one shuffle (partition by key),
    no per-row probe — survives arbitrarily large sides.
    """
    clash = sorted(set(right_values) & set(left.columns))
    if clash:
        raise ValueError(
            f"asof_join: right_values {clash} collide with left column "
            "names — the output would carry duplicate columns; rename "
            "one side first"
        )

    lcols = left.columns
    # ONE struct carries ALL right values: filling each value column
    # independently with last(ignorenulls) mixed fields from DIFFERENT
    # right rows whenever a matched row had a NULL in one value column
    # (a composite row that never existed — r15 review finding).  NULL
    # right_time rows are excluded up front: they can never be a valid
    # as-of match, but under nulls-first ordering they were carried as
    # the "most recent" value for left rows with no real match.
    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"`{v}`:{right.schema[v].dataType.simpleString()}"
                for v in right_values
            )
            + ">"
        )
        .alias("__r"),
    )
    tagged_right = right.where(F.col(right_time).isNotNull()).select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tagged_left.schema["__l"].dataType).alias("__l"),
        F.struct(*[F.col(v) for v in right_values]).alias("__r"),
    )
    both = tagged_left.unionByName(tagged_right)

    # final tiebreak on the value struct itself: several right rows at
    # the same (key, time) previously resolved to an arbitrary one
    # (partitioning-dependent — breaking the repo's bit-for-bit oracle
    # contract); struct ordering makes "the greatest value row wins"
    # deterministic.  Requires orderable value types (maps excluded).
    # right rows sort before left rows at equal time => <= semantics
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").asc(), F.col("__side").desc(), F.col("__r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    filled = both.select(
        "__side",
        "__l",
        F.last(F.col("__r"), ignorenulls=True).over(w).alias("__rv"),
    ).where(F.col("__side") == 0)

    return filled.select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[F.col("__rv").getField(v).alias(v) for v in right_values],
    )
