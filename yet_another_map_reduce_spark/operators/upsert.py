"""MERGE/upsert: key-based update-or-insert between two relations.

The reference engine has no mutation path at all — a "update" there is a
full re-run of the job over regenerated chunk files
(``/root/reference/Client/client.py`` re-splits the whole input).  This
module gives the engine Delta-``MERGE``-shaped semantics as a pure
relational rewrite: updates win on matched keys, unmatched update keys
are inserted, unmatched base keys pass through.

Scale notes: one shuffle per side on the key (or zero for the base side
if it is a table written with ``bucketBy`` on the key), and
``broadcast_updates=True`` turns the whole merge into a map-only
broadcast outer join when the delta is small relative to the base, which
is the common CDC shape at 100 TB (small daily delta into a huge
snapshot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    flag_col: str | None = None,
    broadcast_updates: bool = False,
) -> DataFrame:
    """Merge ``updates`` into ``base`` on ``keys``; both sides must share
    a schema.  ``flag_col`` optionally records whether the row came from
    the updates side.

    Two physical strategies with one difference in partial-update
    semantics:

    - default (``broadcast_updates=False``): full-outer join + per-column
      ``coalesce`` — a NULL in an update column falls back to the base
      value (partial updates).  Full-outer joins cannot broadcast in
      Spark, so this is a shuffle on both sides.
    - ``broadcast_updates=True``: broadcast LEFT ANTI on the key + union —
      map-only over the base (the common CDC shape: small delta into a
      huge snapshot).  Matched rows are replaced WHOLESALE, so update
      rows must be complete.
    """
    non_keys = [c for c in base.columns if c not in keys]
    out_cols = keys + non_keys
    if broadcast_updates:
        untouched = base.join(
            F.broadcast(updates.select(*keys)), on=keys, how="left_anti"
        ).select(*out_cols)
        fresh = updates.select(*out_cols)
        if flag_col:
            untouched = untouched.withColumn(flag_col, F.lit(False))
            fresh = fresh.withColumn(flag_col, F.lit(True))
        return untouched.unionByName(fresh)
    marked = updates.withColumn("__from_updates", F.lit(1))
    joined = base.alias("b").join(marked.alias("u"), on=keys, how="full_outer")
    cols = [F.col(k) for k in keys] + [
        F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c) for c in non_keys
    ]
    if flag_col:
        cols.append(F.col("u.__from_updates").isNotNull().alias(flag_col))
    return joined.select(*cols)
