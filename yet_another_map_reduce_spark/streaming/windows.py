"""Event-time windowing — identical code path for batch and stream.

Watermarks bound state: without one, a streaming window agg keeps every
window open forever.  The helpers here take the watermark from the
caller (``df.withWatermark`` on a stream), so batch callers (and the SQL
oracle) use the very same windowing functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _windowed(
    df: DataFrame, win_col: Column, prefix: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """ONE flatten body for all three window shapes (previously three
    drifting copies): the window struct is aliased to an internal name
    so a grouping key itself named 'window'/'session_window' cannot
    collide with the struct column (AMBIGUOUS_REFERENCE on
    ``window.start`` before)."""
    return (
        df.groupBy(win_col.alias("__win"), *keys)
        .agg(*aggs)
        .withColumn(f"{prefix}_start", F.col("__win.start"))
        .withColumn(f"{prefix}_end", F.col("__win.end"))
        .drop("__win")
    )


def tumbling_windowed(
    df: DataFrame,
    ts_col: str,
    width: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Fixed non-overlapping windows; emits window_start/window_end
    columns (flattened from the window struct for a stable schema)."""
    return _windowed(df, F.window(ts_col, width), "window", keys, aggs)


def sliding_windowed(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return _windowed(df, F.window(ts_col, width, slide), "window", keys, aggs)


def session_windowed(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Data-driven windows that close after ``gap`` of inactivity per
    key — Spark's native session_window (merging handled by the engine,
    state bounded by the watermark in streaming mode)."""
    return _windowed(df, F.session_window(ts_col, gap), "session", keys, aggs)
