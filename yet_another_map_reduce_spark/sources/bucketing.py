"""Bucketed tables — co-located joins without a shuffle.

The 100 TB pattern for repeatedly-joined fact tables: write both sides
bucketed by the join key into the session catalog, and every subsequent
equi-join on that key skips the Exchange entirely (each bucket pair is
joined locally).  The bucket count is a durable layout decision — the
write-side analog of the reference's fixed W-way key partitioning
(``/root/reference/Worker/worker.py:213-214``), but persisted in table
metadata so the planner can prove co-location.

Uses ``saveAsTable`` (bucket metadata lives in the catalog; plain
``parquet(path)`` cannot record it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) catalog table.

    Sorting within buckets additionally removes the Sort from future
    sort-merge joins — scan-merge-join directly from disk order.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — plans with
    zero Exchange when bucket counts match (asserted in tests)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)
