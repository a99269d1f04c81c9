"""applyInPandasWithState sessionization: custom stateful operator over
a real micro-batch stream."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from yet_another_map_reduce_spark.streaming.stateful import sessionize_with_state
from yet_another_map_reduce_spark.streaming.sources import file_stream


def test_sessionize_with_state_accumulates(spark, tmp_path):
    src = os.path.join(str(tmp_path), "sess_src")
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (1, "2024-01-01 00:01:00", 5.0),
            (2, "2024-01-01 00:02:00", 7.0),
        ],
        "user_id long, ts_str string, value double",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    stream = file_stream(spark, src, events.schema, fmt="parquet")
    out = sessionize_with_state(stream, timeout_ms=60_000)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # a ProcessingTimeTimeout stateful query stays alive after draining
    # the data (waiting to fire timeouts) — poll for output, then stop
    deadline = time.time() + 90
    while time.time() < deadline and spark.sql("SELECT * FROM sess_out").count() < 2:
        time.sleep(1)
    q.stop()

    rows = {r["user_id"]: r for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert rows[1]["n_events"] == 2 and rows[1]["total_value"] == 15.0
    assert rows[2]["n_events"] == 1 and rows[2]["total_value"] == 7.0


def test_sessionize_state_carries_across_batches(spark, tmp_path):
    """Second batch for the same key must see the state from the first
    (checkpointed across two availableNow passes)."""
    src = os.path.join(str(tmp_path), "sess2_src")
    ckpt = os.path.join(str(tmp_path), "sess2_ckpt")
    out_rows = []

    def run(batch_df):
        stream = file_stream(spark, src, batch_df.schema, fmt="parquet")
        out = sessionize_with_state(stream, timeout_ms=600_000)
        # foreachBatch: the only sink that supports update mode AND
        # checkpoint recovery (memory sink can't resume; file sink is
        # append-only)
        n_before = len(out_rows)
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _bid: out_rows.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # poll-then-stop: see sess_out comment
        deadline = time.time() + 90
        while time.time() < deadline and len(out_rows) == n_before:
            time.sleep(1)
        time.sleep(2)  # let the in-flight batch finish appending
        q.stop()

    b1 = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", 1.0)], "user_id long, ts_str string, value double"
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    b1.coalesce(1).write.mode("append").parquet(src)
    run(b1)
    b2 = spark.createDataFrame(
        [(7, "2024-01-01 00:05:00", 2.0)], "user_id long, ts_str string, value double"
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    b2.coalesce(1).write.mode("append").parquet(src)
    run(b2)

    # the last update for user 7 reflects accumulated state: 2 events, 3.0
    last = max(
        (r for r in out_rows if r["user_id"] == 7), key=lambda r: r["n_events"]
    )
    assert last["n_events"] == 2 and last["total_value"] == 3.0


def test_streaming_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend: RocksDB keeps streaming state off-heap
    and spillable (HDFSBackedStateStore holds every key in executor
    memory — the thing that falls over at large key cardinality).  Runs
    the watermark-dedup operator end-to-end under the RocksDB provider
    and restores the session conf afterwards."""
    from yet_another_map_reduce_spark.streaming.stateful import streaming_dedup

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    src = os.path.join(str(tmp_path), "rocks_src")
    ckpt = os.path.join(str(tmp_path), "rocks_ckpt")
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (1, "2024-01-01 00:00:00", 10.0),  # exact dup -> dropped
            (2, "2024-01-01 00:02:00", 7.0),
        ],
        "user_id long, ts_str string, value double",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    spark.conf.set(provider_key, rocksdb)
    try:
        stream = file_stream(spark, src, events.schema, fmt="parquet")
        out = streaming_dedup(stream, ["user_id", "ts"], "ts", "10 minutes")
        got = []
        q = (
            out.writeStream.foreachBatch(lambda bdf, _bid: got.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        # the dup row is dropped by RocksDB-backed state
        assert sorted((r["user_id"], r["value"]) for r in got) == [(1, 10.0), (2, 7.0)]
        # the query's state store actually used RocksDB: the provider
        # reports rocksdb* custom metrics in the progress stateOperators
        assert "rocksdb" in str(q.lastProgress).lower()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def test_fold_batch_skips_nat_and_carries_state():
    """The shared sessionize fold: an all-NULL-ts chunk yields NaT and
    must not poison later chunks' maxima; state's last_ts participates
    so a late batch can't move the session timestamp backwards."""
    import pandas as pd

    from yet_another_map_reduce_spark.streaming.stateful import _fold_batch

    c1 = pd.DataFrame({"value": [1.0], "ts": pd.to_datetime([None])})
    c2 = pd.DataFrame({"value": [2.0], "ts": pd.to_datetime(["2024-01-01 10:00"])})
    n, total, last = _fold_batch([c1, c2], 0, 0.0, None)
    assert n == 2 and total == 3.0
    assert last == pd.Timestamp("2024-01-01 10:00")  # NaT chunk skipped
    # a LATE batch (older max) keeps the stored, newer last_ts
    c3 = pd.DataFrame({"value": [1.0], "ts": pd.to_datetime(["2024-01-01 09:30"])})
    n, total, last = _fold_batch([c3], n, total, last)
    assert last == pd.Timestamp("2024-01-01 10:00")


def test_interval_join_right_outer_keeps_key(spark):
    """right/full outer: an unmatched RIGHT row must carry its real key
    (the left copy is NULL there; dropping the right copy erased it)."""
    from yet_another_map_reduce_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    left = spark.createDataFrame(
        [("a", "2024-01-01 10:00:00")], "k string, lts string"
    ).select("k", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [("a", "2024-01-01 10:05:00"), ("zzz", "2024-01-01 10:05:00")],
        "k string, rts string",
    ).select("k", F.col("rts").cast("timestamp").alias("rts"))
    out = stream_stream_interval_join(
        left, right, "k", "lts", "rts", "1 hour", "10 minutes", how="right_outer"
    ).collect()
    keys = sorted(r["k"] for r in out)
    assert keys == ["a", "zzz"]  # the unmatched right key survives
    # and the inner path still keeps its original single-key shape
    inner = stream_stream_interval_join(
        left, right, "k", "lts", "rts", "1 hour", "10 minutes"
    )
    assert inner.columns.count("k") == 1


def test_windowed_tolerates_key_named_window(spark):
    """A grouping key named 'window' must not collide with the window
    struct (AMBIGUOUS_REFERENCE on window.start before)."""
    from yet_another_map_reduce_spark.streaming.windows import tumbling_windowed

    df = spark.createDataFrame(
        [("2024-01-01 10:10:00", "w1", 1.0)], "ts_s string, window string, v double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "window", "v")
    out = tumbling_windowed(
        df, "ts", "1 hour", ["window"], [F.count(F.lit(1)).alias("n")]
    ).collect()
    assert out[0]["window"] == "w1" and out[0]["n"] == 1
    assert out[0]["window_start"] is not None


def test_streaming_dedup_always_includes_event_time(spark, tmp_path):
    """streaming_dedup dedups on (keys + ts): two same-key events at
    different times BOTH survive (exact dedup), and the state store is
    watermark-bounded because ts is a dedup column."""
    import os

    from yet_another_map_reduce_spark.streaming import file_stream, streaming_dedup

    src = os.path.join(str(tmp_path), "sd")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:00:00"),  # exact dup: dropped
            (1, "2024-01-01 00:05:00"),  # same key, later ts: kept
        ],
        "k long, ts_str string",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    out = streaming_dedup(
        file_stream(spark, src, df.schema, fmt="parquet"), ["k"], "ts", "1 hour"
    )
    q = (
        out.writeStream.format("memory").queryName("sd_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT k, ts FROM sd_out").collect()
    assert len(rows) == 2 and {r["k"] for r in rows} == {1}
