"""Adaptive input-spread for expensive per-row kernels.

Single-row-group bench parquet cannot be split, so at small scale a
1-2 MB table feeds an entire Arrow-kernel scoring, synthesis or
heavy-projection stage to ONE task while the other cores idle
(profiled r16 at local[32]: 0.9-2.3 serial CPU-seconds per kernel stage
with 31 cores idle), and the driver's 8-core/32-core scaling
measurement reads flat.  ``spread_small`` hash-repartitions on the
given key ONLY when the plan has fewer partitions than the session's
default parallelism; at scale input splits exceed the core count and
the call is a NO-OP, so a corpus-sized shuffle is never introduced
(guide §2.5 input skew — the guard is what makes this scale-safe
rather than a local[32] constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism
    when (and only when) its plan currently has fewer partitions."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, *cols) if cols else df.repartition(p)
    return df
