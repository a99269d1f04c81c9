"""Window-function operators (ABSENT in the reference — SURVEY.md §2.3).

All pure DataFrame: one shuffle on the partition key, sort within
partitions, then a single streaming pass.  Scale note: a window with no
``partitionBy`` forces ALL rows into one partition — every helper here
requires partition keys for that reason; a global top-k is
``orderBy().limit(k)`` and a global rank is ``sorts.global_ranked``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _window(partition_by: list[str], order_by: list[Column | str]):
    if not partition_by:
        raise ValueError("partition_by must be non-empty; a global window does not scale")
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def top_k_per_group(df: DataFrame, partition_by: list[str], order_by: list[Column | str], k: int) -> DataFrame:
    """Top-k rows per group via row_number filter — the distributed
    replacement for any per-group ORDER BY ... LIMIT k."""
    if "__rn" in df.columns:
        # withColumn would silently CLOBBER the caller's column and
        # drop() would then remove their data from the output
        raise ValueError(
            "top_k_per_group: input already has a '__rn' column (the "
            "operator's internal temp name) — rename it first"
        )
    return (
        df.withColumn("__rn", F.row_number().over(_window(partition_by, order_by)))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def running(df: DataFrame, partition_by: list[str], order_by: list[Column | str], agg_col: Column, alias: str) -> DataFrame:
    """Cumulative aggregate (rows UNBOUNDED PRECEDING → CURRENT ROW)."""
    w = _window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(alias, agg_col.over(w))


def validity_intervals(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column | str],
    ts_col: str,
    end_alias: str = "valid_to",
    end_default: str | None = "2199-12-31",
) -> DataFrame:
    """SCD-Type-2 interval construction: each row's validity ends where the
    next row (in ``order_by``) begins; the latest row per key stays open
    (``end_default``; keep it inside Arrow's ns-timestamp range, i.e. < 2262).  ``order_by`` must be a total order for
    deterministic intervals.  One shuffle on the key, single pass."""
    out = df.withColumn(end_alias, F.lead(ts_col).over(_window(partition_by, order_by)))
    if end_default is not None:
        out = out.withColumn(
            end_alias,
            F.coalesce(F.col(end_alias), F.lit(end_default).cast("timestamp")),
        )
    return out
