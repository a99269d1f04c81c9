"""Custom stateful streaming operators.

``streaming_dedup`` uses Spark's built-in ``dropDuplicates`` +
watermark over (keys + event time) — the event-time column must be a
dedup column for the watermark to bound the state store;
``streaming_dedup_fuzzy`` is the per-key-within-horizon variant.

``sessionize_with_state`` shows the ``applyInPandasWithState`` shape for
semantics the built-ins can't express (custom session payloads,
per-key timeouts).  State is per-key, timeouts evict it, output is an
Arrow batch per group — the scalable custom-operator pattern.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def streaming_dedup(df: DataFrame, key_cols: list[str], ts_col: str, watermark: str) -> DataFrame:
    """EXACT (key, event-time) dedup with a state store bounded by the
    watermark.  ``ts_col`` is always part of the dedup columns — that
    is what MAKES the state bounded: ``dropDuplicates`` only evicts
    watermark-aged state when the event-time column is among the dedup
    keys; without it every distinct key ever seen stays in state for
    the stream's lifetime (the unbounded-growth bug this fn previously
    had when callers passed keys without the timestamp).  For
    once-per-key-within-the-horizon semantics regardless of event time
    (collapsing re-sends with drifted timestamps), use
    :func:`streaming_dedup_fuzzy`."""
    cols = list(dict.fromkeys([*key_cols, ts_col]))
    return df.withWatermark(ts_col, watermark).dropDuplicates(cols)


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        # last_ts LIVES IN STATE: emitting only the current batch's max
        # let a late-arriving batch move a session's last-activity
        # timestamp BACKWARDS across micro-batches (r15 review finding)
        StructField("last_ts", TimestampType()),
    ]
)


def _fold_batch(pdfs, n: int, total: float, last_ts):
    """Per-batch fold of :func:`sessionize_with_state`: count, sum, and
    the max event time — skipping NaT chunk maxima (a chunk
    whose ts values are all NULL yields NaT, and ``max(NaT, m)`` would
    stay NaT forever because NaT comparisons return False)."""
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        m = pdf["ts"].max()
        if pd.isna(m):
            continue
        last_ts = m if last_ts is None else max(last_ts, m)
    return n, total, last_ts


def sessionize_with_state(events: DataFrame, timeout_ms: int = 30_000) -> DataFrame:
    """Per-user running session aggregate via applyInPandasWithState.

    Emits the updated (user, count, sum, last_ts) row on every
    micro-batch; evicts a user's state after ``timeout_ms`` of
    processing-time silence.  Grouping key partitions state across the
    cluster; each executor holds only its keys' state.
    """

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (user_id,) = key
        n, total, last_ts = state.get if state.exists else (0, 0.0, None)
        n, total, last_ts = _fold_batch(pdfs, n, total, last_ts)
        stored = (
            last_ts.to_pydatetime()
            if isinstance(last_ts, pd.Timestamp)
            else last_ts
        )
        state.update((n, total, stored))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [last_ts],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_dedup_fuzzy(
    df: DataFrame, key_cols: list[str], ts_col: str, watermark: str
) -> DataFrame:
    """Dedup records whose keys repeat within the watermark horizon even
    when their event times differ (``dropDuplicatesWithinWatermark``).

    Unlike ``streaming_dedup`` (exact key+ts dedup), this collapses
    near-duplicate emissions — e.g. at-least-once sources that re-send
    the same logical event with a slightly different timestamp.  State
    per key is evicted once the watermark passes it, so the state store
    stays bounded by the horizon, not the stream length."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str,
    within: str,
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join of two streams.

    Both sides are watermarked (required: the watermark + interval bound
    lets Spark evict buffered rows — an unbounded stream-stream join
    would hold both streams in state forever).  A right row matches a
    left row with the same ``key`` when it arrives in
    ``[left_ts, left_ts + within]``.

    ``how='left_outer'`` additionally emits each unmatched left row
    (right columns NULL) — but only once the right-side watermark has
    passed ``left_ts + within``, i.e. the engine has PROVEN no match can
    still arrive; until then the row sits in state, so outer results
    trail the watermark by design (funnel analyses must expect the lag).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how)
    if how.replace("_", "") in ("rightouter", "right", "fullouter", "full", "outer"):
        # right/full outer: an unmatched RIGHT row has a NULL left key,
        # so dropping the right copy would erase the real key from the
        # output — coalesce the two into one authoritative column
        return (
            joined.withColumn("__k", F.coalesce(lw[key], rw[key]))
            .drop(lw[key])
            .drop(rw[key])
            .withColumnRenamed("__k", key)
        )
    # inner/left joins: the left copy is authoritative and non-NULL, so
    # dropping the right copy keeps the original column order
    return joined.drop(rw[key])
