"""Structured Streaming tests: real readStream micro-batch execution
with file replay, watermarks, windows, and stateful dedup.

Strategy (FIXTURES.md §4): events replayed as a file stream; window
aggregations are checked against the batch-mode result of the SAME
helper functions (batch/stream parity by construction), which are in
turn oracle-checked against DuckDB by the driver."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from yet_another_map_reduce_spark.sources.readers import read_table
from yet_another_map_reduce_spark.streaming import (
    file_stream,
    streaming_dedup_fuzzy,
    tumbling_windowed,
)


def _events_stream(spark, sf_dir, tmp_path, n_files=4):
    """Replay the events table as n_files micro-batch files."""
    src = read_table(spark, sf_dir, "events")
    replay_dir = os.path.join(str(tmp_path), "replay")
    src.repartition(n_files).write.mode("overwrite").parquet(replay_dir)
    schema = src.schema
    return src, file_stream(spark, replay_dir, schema, fmt="parquet", max_files_per_trigger=1)


def test_tumbling_window_stream_equals_batch(spark, sf_dir, tmp_path):
    batch_src, stream = _events_stream(spark, sf_dir, tmp_path)
    aggs = [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value")]

    windowed = tumbling_windowed(
        stream.withWatermark("ts", "1 hour"), "ts", "1 hour", ["event_type"], aggs
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_windowed(batch_src, "ts", "1 hour", ["event_type"], aggs).collect()
    }
    assert got == expected


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """Per-key-within-horizon dedup is the FUZZY variant's contract
    (dropDuplicatesWithinWatermark, state bounded by the horizon);
    plain streaming_dedup is exact (key, ts) dedup — key-only dedup
    through it would keep unbounded state (r15 review finding)."""
    src_dir = os.path.join(str(tmp_path), "dup_src")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:05:00"), (2, "2024-01-01 00:06:00")],
        "k long, ts_str string",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = file_stream(spark, src_dir, df.schema, fmt="parquet")
    deduped = streaming_dedup_fuzzy(stream, ["k"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r["k"] for r in spark.sql("SELECT k FROM dedup_out").collect())
    assert ks == [1, 2]


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """An event older than the established watermark horizon must not
    open a new window.  Ordering is made deterministic by running two
    availableNow passes over one checkpoint: pass 1 sees only fresh
    events and persists watermark=11:50; pass 2 ingests the late event
    against that restored watermark."""
    base = os.path.join(str(tmp_path), "late_src")
    ckpt = os.path.join(str(tmp_path), "late_ckpt")
    os.makedirs(base, exist_ok=True)
    fresh = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 12:00:00", 1.0)],
        "id long, ts_str string, v double",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    late = spark.createDataFrame(
        [(3, "2024-01-01 00:30:00", 1.0)],  # 11.5h older than max seen
        "id long, ts_str string, v double",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")

    out_dir = os.path.join(str(tmp_path), "late_out")

    def run_pass() -> None:
        stream = file_stream(spark, base, fresh.schema, fmt="parquet")
        windowed = tumbling_windowed(
            stream.withWatermark("ts", "10 minutes"),
            "ts", "1 hour", [], [F.count(F.lit(1)).alias("n")],
        )
        q = (
            windowed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    fresh.coalesce(1).write.mode("append").parquet(base)
    run_pass()
    late.coalesce(1).write.mode("append").parquet(base)
    run_pass()

    try:
        emitted = spark.read.parquet(out_dir).collect()
    except Exception:  # no window finalized at all — also a valid drop
        emitted = []
    # the late event's 00:00 window must never be emitted
    assert all(r["window_start"].hour >= 10 for r in emitted)


def test_session_window_stream_equals_batch(spark, sf_dir, tmp_path):
    """Session windows in real streaming mode (single micro-batch so
    update-mode emissions are final) must equal the batch-mode result
    of the same helper."""
    from yet_another_map_reduce_spark.streaming import session_windowed

    src = read_table(spark, sf_dir, "events")
    replay = os.path.join(str(tmp_path), "sess_replay")
    src.coalesce(1).write.mode("overwrite").parquet(replay)
    stream = file_stream(spark, replay, src.schema, fmt="parquet", max_files_per_trigger=10)

    aggs = [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sv")]
    windowed = session_windowed(
        stream.withWatermark("ts", "1 hour"), "ts", "2 hours", ["user_id"], aggs
    )
    # session-window streaming aggs reject update mode; complete works
    # (and with a single availableNow batch its emissions are final)
    q = (
        windowed.writeStream.format("memory")
        .queryName("sess_stream_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start"]): (r["n"], r["sv"])
        for r in spark.sql("SELECT * FROM sess_stream_out").collect()
    }
    expected = {
        (r["user_id"], r["session_start"]): (r["n"], r["sv"])
        for r in session_windowed(src, "ts", "2 hours", ["user_id"], aggs).collect()
    }
    assert got == expected


def test_streaming_dedup_fuzzy_collapses_resends(spark, tmp_path):
    """Same key re-sent with a different event time within the horizon
    must be emitted once (dropDuplicatesWithinWatermark)."""
    from yet_another_map_reduce_spark.streaming import streaming_dedup_fuzzy

    src_dir = os.path.join(str(tmp_path), "fuzzy_src")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:02:00"),  # resend, different ts
            (2, "2024-01-01 00:03:00"),
        ],
        "k long, ts_str string",
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    df.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = file_stream(spark, src_dir, df.schema, fmt="parquet")
    deduped = streaming_dedup_fuzzy(stream, ["k"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("fuzzy_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r["k"] for r in spark.sql("SELECT k FROM fuzzy_out").collect())
    assert ks == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks join impressions with the same ad id within 10 minutes;
    a click outside the interval must not match."""
    from yet_another_map_reduce_spark.streaming import stream_stream_interval_join

    imp_dir = os.path.join(str(tmp_path), "imp_src")
    clk_dir = os.path.join(str(tmp_path), "clk_src")
    imp = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00"), (20, "2024-01-01 00:00:00")],
        "ad long, ts_str string",
    ).withColumn("imp_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    clk = spark.createDataFrame(
        [(10, "2024-01-01 00:05:00"), (20, "2024-01-01 00:30:00")],  # 20 too late
        "ad long, ts_str string",
    ).withColumn("clk_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    imp.coalesce(1).write.mode("overwrite").parquet(imp_dir)
    clk.coalesce(1).write.mode("overwrite").parquet(clk_dir)

    joined = stream_stream_interval_join(
        file_stream(spark, imp_dir, imp.schema, fmt="parquet"),
        file_stream(spark, clk_dir, clk.schema, fmt="parquet"),
        key="ad",
        left_ts="imp_ts",
        right_ts="clk_ts",
        watermark="1 hour",
        within="10 minutes",
    ).select("imp_ts", "clk_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ssj_out").collect()
    assert len(rows) == 1
    assert str(rows[0]["clk_ts"]) == "2024-01-01 00:05:00"


def test_yamr_stream_sink_commits_manifest_per_batch(spark, tmp_path):
    """The custom-format stream sink: chunks land per micro-batch, the
    manifest is rewritten atomically on commit, and a batch reader over
    the manifest sees exactly the streamed rows."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    src_dir, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    spark.createDataFrame(
        [(f"row{i}",) for i in range(20)], "value string"
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema("value string").parquet(src_dir)
    q = (
        stream.writeStream.format("yamr")
        .option("path", out)
        .option("name", "ev")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    manifest = yamr_format.read_manifest(out, "ev")
    assert manifest, "manifest must exist after commit"
    assert all(f.startswith("ev_part-b") for f, _ in manifest)
    back = spark.read.format("yamr").option("path", out).option("name", "ev").load()
    assert sorted(r["value"] for r in back.collect()) == sorted(
        f"row{i}" for i in range(20)
    )

    # second batch appends under a new batch id; reader sees the union
    spark.createDataFrame([("extra1",), ("extra2",)], "value string").coalesce(
        1
    ).write.mode("append").parquet(src_dir)
    q2 = (
        stream.writeStream.format("yamr")
        .option("path", out)
        .option("name", "ev")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    back2 = spark.read.format("yamr").option("path", out).option("name", "ev").load()
    assert back2.count() == 22


def test_yamr_stream_source_reads_manifest_chunks(spark, tmp_path):
    """The custom-format stream source: offsets are manifest-prefix
    lengths, each chunk becomes one input partition, a fresh availableNow
    run drains exactly the committed dataset."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ds")
    spark.createDataFrame(
        [(f"v{i}",) for i in range(30)], "value string"
    ).repartition(3).write.format("yamr").option("path", out).option(
        "name", "tx"
    ).mode("append").save()

    stream = (
        spark.readStream.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("yamr_src_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select value from yamr_src_sink").collect()
    assert sorted(r["value"] for r in got) == sorted(f"v{i}" for i in range(30))


def test_stream_static_enrich_matches_batch_join(spark, sf_dir, tmp_path):
    from yet_another_map_reduce_spark.streaming import stream_static_enrich

    batch_src, stream = _events_stream(spark, sf_dir, tmp_path)
    # static dim: a per-user tier lookup derived once
    dim = (
        batch_src.select("user_id").distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
        .cache()
    )
    enriched = stream_static_enrich(
        stream.select("event_id", "user_id"), dim, ["user_id"]
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["tier"]) for r in spark.sql("SELECT * FROM enrich_out").collect()
    }
    expected = {
        (r["event_id"], r["tier"])
        for r in batch_src.select("event_id", "user_id").join(dim, "user_id").collect()
    }
    assert got == expected


def test_streaming_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """Production shape of the trained classifier (r9 verdict item 8):
    train batch-side, freeze the averaged weights, gate a document
    STREAM with them (classify.quality_gate — stateless map-only, the
    model as plan literals), sink via foreachBatch, and golden-check
    the union of micro-batch outputs against the SAME gate applied in
    batch mode.  Also pins that the gate needs no state store: each
    row's verdict is independent of micro-batch boundaries."""
    import os

    from yet_another_map_reduce_spark.operators import classify
    from yet_another_map_reduce_spark.queries import (
        _CLASSIFIER_FEATURE_COLS,
        _classifier_features,
    )
    from yet_another_map_reduce_spark.streaming import file_stream

    docs = read_table(spark, sf_dir, "documents")
    feats = _classifier_features(docs)
    model = classify.perceptron_train_averaged(
        feats, "y", _CLASSIFIER_FEATURE_COLS, iterations=5
    ).collect()
    last = max(model, key=lambda r: r["iteration"])
    # production scores with the cumulative-sum (averaged) vector
    weights = [last[f"s{k}"] for k in range(len(_CLASSIFIER_FEATURE_COLS) + 1)]

    # data-driven cut: the median margin, so the gate keeps AND drops
    # rows regardless of which side the tiny corpus lands on
    margins = sorted(
        r["margin"]
        for r in classify.perceptron_score(
            feats, weights, _CLASSIFIER_FEATURE_COLS, "doc_id"
        ).collect()
    )
    threshold = margins[len(margins) // 2]

    expected = {
        (r["doc_id"], r["margin"], r["predicted"])
        for r in classify.quality_gate(
            feats, weights, _CLASSIFIER_FEATURE_COLS, threshold=threshold
        ).collect()
    }
    assert expected, "gate must keep something at sf0.001 for the test to bite"
    assert len(expected) < feats.count(), "gate must also drop something"

    replay = os.path.join(str(tmp_path), "doc_replay")
    docs.repartition(4).write.mode("overwrite").parquet(replay)
    stream = file_stream(
        spark, replay, docs.schema, fmt="parquet", max_files_per_trigger=1
    )
    gated_stream = classify.quality_gate(
        _classifier_features(stream),
        weights,
        _CLASSIFIER_FEATURE_COLS,
        threshold=threshold,
    )
    got: set = set()

    def sink(batch_df, batch_id):
        got.update(
            (r["doc_id"], r["margin"], r["predicted"]) for r in batch_df.collect()
        )

    q = (
        gated_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(str(tmp_path), "gate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == expected


def test_foreach_batch_upsert_converges_to_latest_snapshot(spark, tmp_path):
    """CDC replay: N micro-batches of keyed updates merged into a parquet
    snapshot must equal the batch-mode last-writer-wins result."""
    import os

    from yet_another_map_reduce_spark.streaming import file_stream, foreach_batch_upsert

    # change log: key, value, seq — replayed as 3 single-file micro-batches
    batches = [
        [(1, "a0", 0), (2, "b0", 1)],
        [(1, "a1", 2), (3, "c0", 3)],
        [(2, "b2", 4), (2, "b3", 5)],  # same key twice within one batch
    ]
    replay = str(tmp_path / "cdc")
    os.makedirs(replay)
    schema = "k long, v string, seq long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{replay}/b{i}", mode="overwrite"
        )
    # register the three dirs as one file-stream source, 1 file per trigger
    allrows = spark.read.parquet(f"{replay}/b*")
    stream = file_stream(
        spark, f"{replay}/b*", allrows.schema, fmt="parquet", max_files_per_trigger=1
    )
    snap = str(tmp_path / "snapshot")
    q = foreach_batch_upsert(stream, snap, ["k"], str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {r["k"]: r["v"] for r in spark.read.parquet(snap).collect()}
    # file order is by path (b0, b1, b2) with 1 file/trigger; within-batch
    # later row wins; [NB: if this ever flakes on file order, the seq
    # column is the ground truth]
    assert got == {1: "a1", 2: "b3", 3: "c0"}


def test_foreach_batch_upsert_seq_col_beats_partition_order(spark, tmp_path):
    """With seq_col set, 'last writer wins' means HIGHEST SEQUENCE —
    regardless of partition layout within a batch (where the
    monotonically_increasing_id fallback is partition-ordered) AND
    across micro-batches (a replayed stale change arriving in a later
    batch must not clobber the newer snapshot row)."""
    import os

    from yet_another_map_reduce_spark.streaming import file_stream, foreach_batch_upsert

    replay = str(tmp_path / "cdc_seq")
    os.makedirs(replay)
    schema = "k long, v string, seq long"
    # ONE batch, TWO partitions: the seq=9 change sits in partition 0,
    # the stale seq=1 change in partition 1 — partition-ordinal order
    # would pick the stale row
    newest = spark.createDataFrame([(1, "new", 9)], schema)
    stale = spark.createDataFrame([(1, "old", 1)], schema)
    newest.coalesce(1).write.parquet(f"{replay}/b0/p0", mode="overwrite")
    stale.coalesce(1).write.parquet(f"{replay}/b0/p1", mode="overwrite")
    allrows = spark.read.parquet(f"{replay}/b*/p*")
    stream = file_stream(spark, f"{replay}/b*/p*", allrows.schema, fmt="parquet")
    snap = str(tmp_path / "snapshot_seq")
    q = foreach_batch_upsert(stream, snap, ["k"], str(tmp_path / "ckpt_seq"), seq_col="seq")
    q.awaitTermination(120)

    got = {r["k"]: r["v"] for r in spark.read.parquet(snap).collect()}
    assert got == {1: "new"}


def test_stream_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """Outer interval join: the impression with no click inside the
    bound must be emitted with NULL click columns — but only after the
    click-side watermark proves no match can still arrive (advanced
    here by a later click file replayed as a second micro-batch)."""
    from yet_another_map_reduce_spark.streaming import stream_stream_interval_join

    imp_dir = os.path.join(str(tmp_path), "imp_src_lo")
    clk_dir = os.path.join(str(tmp_path), "clk_src_lo")
    imp = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00"), (20, "2024-01-01 00:00:00")],
        "ad long, ts_str string",
    ).withColumn("imp_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    clk1 = spark.createDataFrame(
        [(10, "2024-01-01 00:05:00")], "ad long, ts_str string"
    ).withColumn("clk_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    # far-future rows on BOTH sides: the query watermark is the MIN of
    # the per-input watermarks, so each must pass 00:10 before ad 20's
    # no-match verdict becomes provable and the outer row can emit
    clk2 = spark.createDataFrame(
        [(99, "2024-01-01 03:00:00")], "ad long, ts_str string"
    ).withColumn("clk_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    imp2 = spark.createDataFrame(
        [(98, "2024-01-01 03:00:00")], "ad long, ts_str string"
    ).withColumn("imp_ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    imp.coalesce(1).write.mode("overwrite").parquet(imp_dir)
    imp2.coalesce(1).write.mode("append").parquet(imp_dir)
    clk1.coalesce(1).write.mode("overwrite").parquet(clk_dir)
    clk2.coalesce(1).write.mode("append").parquet(clk_dir)

    outer = stream_stream_interval_join(
        file_stream(spark, imp_dir, imp.schema, fmt="parquet"),
        file_stream(spark, clk_dir, clk1.schema, fmt="parquet"),
        key="ad",
        left_ts="imp_ts",
        right_ts="clk_ts",
        watermark="1 minute",
        within="10 minutes",
        how="left_outer",
    ).select("ad", "imp_ts", "clk_ts")
    q = (
        outer.writeStream.format("memory")
        .queryName("ssj_outer_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["ad"]: r for r in spark.sql("SELECT * FROM ssj_outer_out").collect()}
    assert str(rows[10]["clk_ts"]) == "2024-01-01 00:05:00"  # matched pair
    assert rows[20]["clk_ts"] is None  # unmatched left emitted with NULL
    # the 03:00 impression's bound is still ahead of the watermark: its
    # verdict is unprovable, so it must stay buffered, not emit
    assert 98 not in rows


def test_yamr_stream_commit_beats_concurrent_batch_writer(spark, tmp_path):
    """Optimistic concurrency across the batch/stream boundary: a batch
    writer whose plan snapshot predates a streaming micro-batch commit
    must abort with ManifestConflictError — the stream's rows survive,
    the loser publishes no snapshot, its chunks are cleaned by abort(),
    and vacuum honors the retention window over the winner's history."""
    import os

    import pytest

    from yet_another_map_reduce_spark.sources import yamr_format
    from yet_another_map_reduce_spark.sources.yamr_format import (
        ManifestConflictError,
        YamrWriter,
        _PartCommit,
    )

    yamr_format.register(spark)
    src_dir, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    spark.createDataFrame([("seed",)], "value string").repartition(
        1
    ).write.format("yamr").option("path", out).option("name", "ev").mode(
        "overwrite"
    ).save()
    assert yamr_format.list_versions(out, "ev") == [1]

    # batch writer A snapshots the manifest at version 1 ("job starts")
    slow = YamrWriter({"path": out, "name": "ev"}, append=True)
    assert slow.base_version == 1

    # a streaming micro-batch commits while A is still running
    spark.createDataFrame(
        [("s1",), ("s2",)], "value string"
    ).coalesce(1).write.mode("overwrite").parquet(src_dir)
    q = (
        spark.readStream.schema("value string")
        .parquet(src_dir)
        .writeStream.format("yamr")
        .option("path", out)
        .option("name", "ev")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert yamr_format.list_versions(out, "ev") == [1, 2]

    # A's commit aborts; its already-written chunk is cleaned up by
    # abort() (the Spark commit protocol calls it on commit failure)
    loser_chunk = "ev_part-g99999-deadbeef-00000-a0.txt"
    with open(os.path.join(out, loser_chunk), "w") as fh:
        fh.write("loser\n")
    msgs = [_PartCommit(loser_chunk, 6)]
    with pytest.raises(ManifestConflictError, match="another writer"):
        slow.commit(msgs)
    slow.abort(msgs)
    assert not os.path.exists(os.path.join(out, loser_chunk))

    # no orphaned snapshot: versions are exactly the two committed ones
    assert yamr_format.list_versions(out, "ev") == [1, 2]
    back = (
        spark.read.format("yamr").option("path", out).option("name", "ev").load()
    )
    assert sorted(r["value"] for r in back.collect()) == ["s1", "s2", "seed"]

    # vacuum inside the retention window removes nothing young: both
    # snapshots retained, every committed chunk still readable
    stats = yamr_format.vacuum(out, "ev", keep_versions=2, retention_seconds=3600)
    assert yamr_format.list_versions(out, "ev") == [1, 2]
    assert stats["removed_chunks"] == []
    again = (
        spark.read.format("yamr").option("path", out).option("name", "ev").load()
    )
    assert sorted(r["value"] for r in again.collect()) == ["s1", "s2", "seed"]


# ---------------------------------------------------------------------------
# end-to-end streaming ingest pipeline (r10 verdict item 5)
# ---------------------------------------------------------------------------


def _ingest_fixture(spark, sf_dir, tmp_path):
    """Shared setup for the ingest-pipeline tests: bootstrap index over
    the first 200 documents, frozen averaged-perceptron weights, and a
    3-micro-batch increment replay with planted duplicates of every
    flavor (vs bootstrap, in-batch, cross-batch)."""
    from yet_another_map_reduce_spark.functions import normalize_text
    from yet_another_map_reduce_spark.operators import classify, dedup, similarity, text
    from yet_another_map_reduce_spark.queries import (
        _CLASSIFIER_FEATURE_COLS,
        _classifier_features,
    )

    docs = read_table(spark, sf_dir, "documents")
    boot = docs.where(F.col("doc_id") < 200)
    inc = docs.where(F.col("doc_id") >= 200)

    # frozen model: train batch-side on the full table's features
    model = classify.perceptron_train_averaged(
        _classifier_features(docs), "y", _CLASSIFIER_FEATURE_COLS, iterations=3
    ).collect()
    last = max(model, key=lambda r: r["iteration"])
    weights = [last[f"s{k}"] for k in range(len(_CLASSIFIER_FEATURE_COLS) + 1)]

    from yet_another_map_reduce_spark.queries import with_classifier_features

    featurize = with_classifier_features

    # data-driven threshold: median margin over the increment, so the
    # gate both keeps and drops rows wherever the corpus lands
    margins = sorted(
        r["margin"]
        for r in classify.perceptron_score(
            _classifier_features(inc), weights, _CLASSIFIER_FEATURE_COLS, "doc_id"
        ).collect()
    )
    threshold = margins[len(margins) // 2]

    # bootstrap: committed index over the first 200 docs + their
    # fingerprints as the seed of the seen relation
    index_dir = os.path.join(str(tmp_path), "ingest_idx")
    seen_dir = os.path.join(str(tmp_path), "ingest_seen")
    boot_vecs = text.hash_embed_dense(boot.select("doc_id", "text"), "text", "doc_id")
    similarity.build_ivfpq_index_auto(
        boot_vecs,
        "doc_id",
        "embedding",
        index_dir,
        books=similarity.train_pq_codebooks(boot_vecs, "doc_id", "embedding"),
    )
    dedup.batch_fingerprints(boot, "text").write.mode("overwrite").parquet(
        os.path.join(seen_dir, "batch=-1")
    )

    # increment replay: 3 single-file micro-batches with planted dups —
    # a bootstrap re-crawl (same text, new id), an in-batch dup pair,
    # and a cross-batch repeat of a batch-0 text
    inc_rows = inc.select("doc_id", "text", "lang", "source", "n_chars")
    b0 = inc_rows.where(F.col("doc_id") < 300)
    b1 = inc_rows.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    b2 = inc_rows.where(F.col("doc_id") >= 400)
    redo = (
        docs.where(F.col("doc_id") < 10)  # bootstrap re-crawl into b0
        .withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    dup_pair = (
        inc_rows.where(F.col("doc_id") == 250)  # in-batch dup inside b0
        .withColumn("doc_id", F.lit(20_000).cast("long"))
    )
    cross = (
        inc_rows.where(F.col("doc_id") == 260)  # b0 text repeated in b1
        .withColumn("doc_id", F.lit(30_000).cast("long"))
    )
    batches = [b0.unionByName(redo).unionByName(dup_pair), b1.unionByName(cross), b2]
    replay = os.path.join(str(tmp_path), "ingest_replay")
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(os.path.join(replay, f"b{i}"))

    kw = dict(
        index_dir=index_dir,
        seen_dir=seen_dir,
        weights=weights,
        feature_cols=_CLASSIFIER_FEATURE_COLS,
        featurize=featurize,
        threshold=threshold,
    )
    return docs, batches, replay, kw


def _expected_ingested_ids(spark, docs, batches, weights, feature_cols, threshold):
    """Independent pure-Python replay of the pipeline's contract:
    seen = bootstrap fps; per batch, first occurrence (min id) of each
    unseen fp survives dedup, gate keeps margin > threshold, then the
    WHOLE batch's fps join seen."""
    from yet_another_map_reduce_spark.functions import normalize_text
    from yet_another_map_reduce_spark.operators import classify
    from yet_another_map_reduce_spark.queries import _classifier_features

    def fp_margin(df):
        feats = _classifier_features(df)
        m = {
            r["doc_id"]: r["margin"]
            for r in classify.perceptron_score(
                feats, weights, feature_cols, "doc_id"
            ).collect()
        }
        return [
            (r["doc_id"], r["fp"], m[r["doc_id"]])
            for r in df.select(
                "doc_id", F.md5(normalize_text("text")).alias("fp")
            ).collect()
        ]

    seen = {
        r["fp"]
        for r in docs.where(F.col("doc_id") < 200)
        .select(F.md5(normalize_text("text")).alias("fp"))
        .collect()
    }
    expected: set[int] = set()
    for b in batches:
        rows = fp_margin(b)
        by_fp: dict[str, int] = {}
        for did, fp, _ in rows:
            if fp not in seen:
                by_fp[fp] = min(by_fp.get(fp, did), did)
        margins = {did: mg for did, _, mg in rows}
        expected |= {
            did for did in by_fp.values() if margins[did] > threshold
        }
        seen |= {fp for _, fp, _ in rows}
    return expected


def _live_index_ids(spark, index_dir):
    from functools import reduce

    from pyspark.sql import DataFrame

    from yet_another_map_reduce_spark.operators import similarity

    parts = similarity._index_data_paths(index_dir)
    union = reduce(DataFrame.unionByName, [spark.read.parquet(p) for p in parts])
    ids = [r["neighbor_id"] for r in union.select("neighbor_id").collect()]
    return ids


def test_streaming_ingest_pipeline_golden(spark, sf_dir, tmp_path):
    """The composed production pipeline (r10 verdict item 5): document
    stream -> incremental dedup vs the accumulated fingerprint relation
    -> frozen-weights quality gate -> exactly-once IVF-PQ index append
    per micro-batch.  Golden-checked against an independent pure-Python
    replay of the contract: the final index holds the bootstrap corpus
    plus EXACTLY the first-occurrence, gate-passing increment documents
    — every planted duplicate (bootstrap re-crawl, in-batch pair,
    cross-batch repeat) absent, each survivor present exactly once."""
    from yet_another_map_reduce_spark.streaming import streaming_ingest_pipeline

    docs, batches, replay, kw = _ingest_fixture(spark, sf_dir, tmp_path)
    boot_ids = set(_live_index_ids(spark, kw["index_dir"]))
    schema = spark.read.parquet(os.path.join(replay, "b0")).schema
    stream = file_stream(
        spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
    )
    # trigger={} (falsy, not None) must fall back to availableNow —
    # pins the config-driven-caller guard at no extra test cost
    q = streaming_ingest_pipeline(
        stream,
        checkpoint_dir=os.path.join(str(tmp_path), "ingest_ckpt"),
        trigger={},
        **kw,
    )
    q.awaitTermination(300)

    ids = _live_index_ids(spark, kw["index_dir"])
    assert len(ids) == len(set(ids)), "a document was ingested twice"
    got_inc = {i for i in ids if i >= 200}
    expected = _expected_ingested_ids(
        spark, docs, batches, kw["weights"], kw["feature_cols"], kw["threshold"]
    )
    assert expected, "fixture must ingest something"
    assert got_inc == expected
    # every planted duplicate id must be absent
    assert not {10_000 + i for i in range(10)} & got_inc
    assert 20_000 not in got_inc and 30_000 not in got_inc
    # bootstrap content untouched by the whole ingest
    assert {i for i in ids if i < 200} == boot_ids


def test_ingest_pipeline_crash_mid_batch_never_serves_half_commit(
    spark, sf_dir, tmp_path
):
    """Crash-mid-batch proof (r10 verdict item 5): the commit of the
    SECOND micro-batch's append dies after the segment is written but
    before the CURRENT pointer swap.  The index must keep serving
    exactly the pre-crash content (the orphan segment is on disk but
    unreferenced — never a half-commit), the commit lock must not be
    left behind, and restarting the stream from the checkpoint must
    converge to the no-crash result with no duplicate ingestion (the
    batch-id token makes the replayed append exactly-once)."""
    import pytest

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.streaming import streaming_ingest_pipeline

    docs, batches, replay, kw = _ingest_fixture(spark, sf_dir, tmp_path)
    index_dir = kw["index_dir"]
    schema = spark.read.parquet(os.path.join(replay, "b0")).schema
    ckpt = os.path.join(str(tmp_path), "ingest_ckpt")

    orig = similarity._locked_occ_commit
    state = {"appends": 0}

    def dying_commit(idx_dir, expected_live, version, action):
        if action == "append":
            state["appends"] += 1
            if state["appends"] == 2:
                raise RuntimeError("injected crash before pointer swap")
        return orig(idx_dir, expected_live, version, action)

    similarity._locked_occ_commit = dying_commit
    try:
        stream = file_stream(
            spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
        )
        q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(300)
            raise AssertionError("stream should have died on batch 1")
    finally:
        similarity._locked_occ_commit = orig

    # the crash left an orphan segment on disk, but the LIVE manifest
    # doesn't reference it and searches serve the pre-crash content
    live = similarity._resolve_index_dir(index_dir)
    live_segs = set(similarity._segment_names(live, index_dir))
    on_disk = {
        d for d in os.listdir(index_dir) if d.startswith("seg_")
    }
    assert "seg_b000000000001" in on_disk - {
        os.path.basename(s) for s in live_segs
    }
    assert not os.path.exists(os.path.join(index_dir, "_commit.lock"))
    ids_after_crash = _live_index_ids(spark, index_dir)
    assert len(ids_after_crash) == len(set(ids_after_crash))
    assert not {i for i in ids_after_crash if i >= 300}, (
        "batch 1+ content served before its commit"
    )

    # restart from the checkpoint: batch 1 replays (same batch id ->
    # same token), batch 2 follows; converges to the no-crash result
    stream = file_stream(
        spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
    )
    q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
    q.awaitTermination(300)

    ids = _live_index_ids(spark, index_dir)
    assert len(ids) == len(set(ids)), "replayed batch ingested twice"
    expected = _expected_ingested_ids(
        spark, docs, batches, kw["weights"], kw["feature_cols"], kw["threshold"]
    )
    assert {i for i in ids if i >= 200} == expected


def test_compact_seen_folds_batches_and_preserves_dedup(spark, tmp_path):
    """Seen-relation maintenance: compaction folds the per-batch
    fingerprint directories into one distinct generation, removes the
    old directories, and is INVISIBLE to incremental_dedup — same
    surviving set before and after.  A second compaction (including a
    prior compacted generation) keeps working."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.streaming import compact_seen

    seen_dir = os.path.join(str(tmp_path), "seen")
    rows = [(i, f"text number {i % 7}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for b in range(3):  # overlapping fps across batches
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 3 == b), "text"
        ).write.mode("overwrite").parquet(os.path.join(seen_dir, f"batch={b}"))

    batch = spark.createDataFrame(
        [(100, "text number 1"), (101, "brand new text")],
        "doc_id long, text string",
    )

    def survivors():
        return {
            r["doc_id"]
            for r in dedup.incremental_dedup(
                batch, spark.read.parquet(seen_dir), "text", "doc_id",
                seen_fp_col="fp",
            ).collect()
        }

    before = survivors()
    assert before == {101}  # the repeat is dropped, the fresh doc kept
    n = compact_seen(spark, seen_dir)
    assert n == 7  # 7 distinct texts
    dirs = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch="))
    assert dirs == ["batch=-2"]
    assert survivors() == before
    # second generation: a new batch lands, compact again
    dedup.batch_fingerprints(batch, "text").write.mode("overwrite").parquet(
        os.path.join(seen_dir, "batch=5")
    )
    n2 = compact_seen(spark, seen_dir)
    assert n2 == 8  # +1 new fp ("text number 1" already present)
    dirs = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch="))
    assert dirs == ["batch=-3"]


def test_maintain_ingest_compacts_both_sides_and_preserves_search(
    spark, sf_dir, tmp_path
):
    """The stopped-stream maintenance job: after two appends and three
    fingerprint batches, maintain_ingest folds the seen relation to one
    generation and the index to one segment, vacuums the superseded
    versions, and search results over the index are EXACTLY what they
    were before maintenance."""
    from yet_another_map_reduce_spark.operators import dedup, similarity, text
    from yet_another_map_reduce_spark.streaming import maintain_ingest

    docs = read_table(spark, sf_dir, "documents")
    index_dir = os.path.join(str(tmp_path), "m_idx")
    seen_dir = os.path.join(str(tmp_path), "m_seen")
    vecs = text.hash_embed_dense(docs.select("doc_id", "text"), "text", "doc_id")
    similarity.build_ivfpq_index_auto(
        vecs.where(F.col("doc_id") < 300), "doc_id", "embedding", index_dir,
        books=similarity.train_pq_codebooks(vecs, "doc_id", "embedding"),
    )
    similarity.append_to_ivfpq_index(
        spark, index_dir,
        vecs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)),
        "doc_id", "embedding", token="m0",
    )
    similarity.append_to_ivfpq_index(
        spark, index_dir, vecs.where(F.col("doc_id") >= 400),
        "doc_id", "embedding", token="m1",
    )
    for b in range(3):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 3 == b), "text"
        ).write.parquet(os.path.join(seen_dir, f"batch={b}"))

    q = vecs.where(F.col("doc_id") < 3)

    def results():
        out = similarity.search_ivfpq_index(
            spark, index_dir, q, "doc_id", "embedding", k=5, nprobe=4
        )
        return sorted(map(tuple, out.collect()))

    before = results()
    stats = maintain_ingest(
        spark, index_dir, seen_dir, keep_versions=0, retention_seconds=0
    )
    assert stats["seen_fps"] > 0
    assert [d for d in os.listdir(seen_dir) if d.startswith("batch=")] == ["batch=-2"]
    live = similarity._resolve_index_dir(index_dir)
    assert len(similarity._segment_names(live, index_dir)) == 1
    assert results() == before


def test_maintain_ingest_is_noop_when_already_compacted(spark, sf_dir, tmp_path):
    """Maintenance on an already-compacted deployment must not rewrite
    anything: a missing seen dir returns 0, a single-generation seen
    relation is left untouched (no downward-marching generation ids),
    and a single-segment index keeps its live version instead of being
    rewritten into a new one."""
    from yet_another_map_reduce_spark.operators import dedup, similarity, text
    from yet_another_map_reduce_spark.streaming import compact_seen, maintain_ingest

    docs = read_table(spark, sf_dir, "documents")
    index_dir = os.path.join(str(tmp_path), "n_idx")
    seen_dir = os.path.join(str(tmp_path), "n_seen")
    vecs = text.hash_embed_dense(docs.select("doc_id", "text"), "text", "doc_id")
    similarity.build_ivfpq_index_auto(
        vecs, "doc_id", "embedding", index_dir,
        books=similarity.train_pq_codebooks(vecs, "doc_id", "embedding"),
    )
    # missing seen dir: compact side is a 0 no-op, index untouched
    live_before = similarity._resolve_index_dir(index_dir)
    stats = maintain_ingest(spark, index_dir, seen_dir, retention_seconds=3600)
    assert stats["seen_fps"] == 0
    assert stats["index_version"] == live_before
    assert similarity._resolve_index_dir(index_dir) == live_before

    # a single RAW generation gets ONE rewrite — the range sort that
    # makes it prunable (post-r12 contract; sidecar-less means NOT yet
    # fully compacted)...
    dedup.batch_fingerprints(docs, "text").write.parquet(
        os.path.join(seen_dir, "batch=-2")
    )
    n = compact_seen(spark, seen_dir)
    assert n > 0
    assert [d for d in os.listdir(seen_dir) if d.startswith("batch=")] == ["batch=-3"]
    # ...and from then on maintenance is a true no-op: same generation,
    # byte-identical listing, no downward-marching ids
    gen = os.path.join(seen_dir, "batch=-3")
    before_files = sorted(os.listdir(gen))
    stats2 = maintain_ingest(spark, index_dir, seen_dir, retention_seconds=3600)
    # default "auto" at 1 sorted level runs the MINOR path with nothing
    # raw to fold: 0, without even a count scan of the relation (the old
    # major default re-counted the whole corpus just to report a no-op)
    assert stats2["seen_fps"] == 0
    assert [d for d in os.listdir(seen_dir) if d.startswith("batch=")] == ["batch=-3"]
    assert sorted(os.listdir(gen)) == before_files
    assert stats2["index_version"] == live_before


def test_featurize_text_col_threading_and_mismatch_rejection(spark, tmp_path):
    """``ingest_batch`` calls the gate featurizer with its own
    ``text_col``, so a non-default text column is gated on the same
    column that dedup and embedding read; a featurizer that takes no
    column argument fails loudly at the call."""
    import pytest

    from yet_another_map_reduce_spark.queries import with_classifier_features
    from yet_another_map_reduce_spark.streaming.ingest import ingest_batch

    class Stop(Exception):
        pass

    calls = []

    def featurize(d, text_col):
        calls.append((text_col, with_classifier_features(d, text_col)))
        raise Stop  # the gate's input is all this test needs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, body string")
    kw = dict(
        index_dir=str(tmp_path / "idx"), seen_dir=str(tmp_path / "seen"),
        weights=[0], feature_cols=[], text_col="body",
    )
    with pytest.raises(Stop):
        ingest_batch(df, 0, featurize=featurize, **kw)
    [(text_col, out)] = calls
    assert text_col == "body"
    assert out.where(F.col("f_tokens") == 3).count() == 1

    with pytest.raises(TypeError):
        ingest_batch(df, 0, featurize=lambda d: d, **kw)


def test_compact_seen_range_layout_and_probe_pruning(spark, sf_dir, tmp_path):
    """r11 verdict item 2: the compacted seen generation is range-sorted
    on the fingerprint with a per-file [min,max] sidecar, so a batch's
    probe keys select a BOUNDED file subset (each key lands in exactly
    one file) — and the pruned read is dedup-equivalent to the full
    scan, because pruning only ever drops files provably disjoint from
    the probe keys."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.streaming import (
        compact_seen,
        read_seen_pruned,
        seen_probe_paths,
    )
    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    docs = read_table(spark, sf_dir, "documents")
    seen_dir = os.path.join(str(tmp_path), "pr_seen")
    for b in range(3):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 3 == b), "text"
        ).write.parquet(os.path.join(seen_dir, f"batch={b}"))

    n = compact_seen(spark, seen_dir, rows_per_file=32)
    assert n == dedup.batch_fingerprints(docs, "text").count()
    gen = os.path.join(seen_dir, "batch=-2")
    ranges = _load_fp_ranges(gen)
    assert ranges is not None and len(ranges) > 4, "expected a multi-file layout"
    # sorted, disjoint, and the sidecar covers every row: bisect-able
    for a, b in zip(ranges, ranges[1:]):
        assert a["max"] < b["min"]

    # a handful of present + absent probe keys: bounded file selection
    batch = docs.where(F.col("doc_id") < 6)
    keys = dedup.batch_fp_keys(batch, "text")
    keys += ["0" * 32, "f" * 32]  # extremes: may or may not land in a range
    paths, selected, skipped = seen_probe_paths(seen_dir, keys)
    assert selected <= len(keys)
    assert skipped >= len(ranges) - len(keys)
    assert all(p.endswith(".parquet") for p in paths)

    # pruned read ⊇ seen ∩ keys ⇒ dedup results identical to full scan
    probe = docs.where((F.col("doc_id") >= 3) & (F.col("doc_id") < 9)).select(
        (F.col("doc_id") + 50_000).alias("doc_id"), "text"
    )
    pkeys = dedup.batch_fp_keys(probe, "text")
    pruned = read_seen_pruned(spark, seen_dir, pkeys)
    full = spark.read.parquet(gen)
    got_pruned = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            probe, pruned, "text", "doc_id", seen_fp_col="fp"
        ).collect()
    )
    got_full = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            probe, full, "text", "doc_id", seen_fp_col="fp"
        ).collect()
    )
    assert got_pruned == got_full == []  # all six texts already seen

    fresh = probe.withColumn("text", F.concat(F.lit("UNSEEN::"), "text"))
    fkeys = dedup.batch_fp_keys(fresh, "text")
    got_fresh = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            fresh, read_seen_pruned(spark, seen_dir, fkeys),
            "text", "doc_id", seen_fp_col="fp",
        ).collect()
    )
    assert len(got_fresh) == fresh.count()

    # sidecar gone (compaction crashed before it landed, or a
    # pre-layout generation): fall back to scanning the whole dir
    os.unlink(os.path.join(gen, "_fp_ranges.json"))
    paths2, sel2, skip2 = seen_probe_paths(seen_dir, pkeys)
    assert paths2 == [gen] and sel2 == 0 and skip2 == 0


def test_maintain_ingest_auto_compaction_policy(spark, sf_dir, tmp_path):
    """maintain_ingest runs the LSM trigger: minor folds while the
    sorted-level count stays under four levels, then one major fold
    collapses the levels.  Five maintenance rounds with one new raw
    batch each: levels grow 1,2,3,4 then fold back to 1."""
    from yet_another_map_reduce_spark.operators import dedup, similarity, text
    from yet_another_map_reduce_spark.streaming import maintain_ingest
    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    docs = read_table(spark, sf_dir, "documents")
    index_dir = os.path.join(str(tmp_path), "auto_idx")
    seen_dir = os.path.join(str(tmp_path), "auto_seen")
    vecs = text.hash_embed_dense(
        docs.where(F.col("doc_id") < 60).select("doc_id", "text"), "text", "doc_id"
    )
    similarity.build_ivfpq_index_auto(
        vecs, "doc_id", "embedding", index_dir,
        books=similarity.train_pq_codebooks(vecs, "doc_id", "embedding"),
    )

    def levels():
        return sorted(
            d
            for d in os.listdir(seen_dir)
            if d.startswith("batch=")
            and _load_fp_ranges(os.path.join(seen_dir, d)) is not None
        )

    seen_levels = []
    for b in range(5):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 5 == b), "text"
        ).write.parquet(os.path.join(seen_dir, f"batch={b}"))
        maintain_ingest(spark, index_dir, seen_dir, retention_seconds=3600)
        seen_levels.append(len(levels()))
    assert seen_levels == [1, 2, 3, 4, 1], seen_levels
    # the major fold deduplicated across levels: exact distinct count
    n = spark.read.parquet(os.path.join(seen_dir, levels()[0])).count()
    assert n == dedup.batch_fingerprints(docs, "text").count()


def test_null_text_fingerprints_never_break_pruning(spark, tmp_path):
    """NULL-text documents have NULL fingerprints, which never
    equi-match (SQL join semantics): batch_fp_keys must drop them (a
    None key would break the range bisect), compact_seen must drop them
    at the fold (an all-NULL file has no min/max stats for the
    sidecar), and dedup results must be unaffected either way."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.streaming import (
        compact_seen,
        read_seen_pruned,
    )
    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "beta"), (4, None)],
        "doc_id long, text string",
    )
    keys = dedup.batch_fp_keys(df, "text")
    assert len(keys) == 2 and all(k is not None for k in keys)

    seen_dir = os.path.join(str(tmp_path), "null_seen")
    dedup.batch_fingerprints(df, "text").write.parquet(
        os.path.join(seen_dir, "batch=0")
    )
    dedup.batch_fingerprints(
        df.where(F.col("doc_id") == 3), "text"
    ).write.parquet(os.path.join(seen_dir, "batch=1"))
    n = compact_seen(spark, seen_dir, rows_per_file=1)
    assert n == 2  # the NULL fingerprint row is dropped at the fold
    gen = os.path.join(seen_dir, "batch=-2")
    assert _load_fp_ranges(gen) is not None

    # probe: seen texts dedup away, NULL-text docs always survive
    probe = df.withColumn("doc_id", F.col("doc_id") + 100)
    got = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            probe,
            read_seen_pruned(spark, seen_dir, dedup.batch_fp_keys(probe, "text")),
            "text",
            "doc_id",
            seen_fp_col="fp",
        ).collect()
    )
    assert got == [102]  # NULLs collapse to one surviving doc (min id),
    # matching exact_dedup's NULL-group semantics; alpha/beta are seen


def test_minor_compaction_folds_only_raw_levels(spark, sf_dir, tmp_path):
    """LSM-style minor compaction: major=False folds only the
    sidecar-less raw batch dirs into a NEW sorted level, leaving the
    existing sorted generation byte-untouched — O(new data) maintenance
    instead of O(corpus).  Probes prune across both levels and dedup
    results equal the one-level (major) layout; a later major pass
    folds the levels back into one."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.streaming import (
        compact_seen,
        read_seen_pruned,
        seen_probe_paths,
    )
    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    docs = read_table(spark, sf_dir, "documents")
    seen_dir = os.path.join(str(tmp_path), "lsm_seen")
    for b in range(2):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 4 == b), "text"
        ).write.parquet(os.path.join(seen_dir, f"batch={b}"))
    n1 = compact_seen(spark, seen_dir, rows_per_file=64)
    gen1 = os.path.join(seen_dir, "batch=-2")
    stamp = os.path.getmtime(os.path.join(gen1, "_fp_ranges.json"))

    # two more raw batches arrive; MINOR maintenance folds just them
    for b in (2, 3):
        dedup.batch_fingerprints(
            docs.where(F.col("doc_id") % 4 == b), "text"
        ).write.parquet(os.path.join(seen_dir, f"batch={b}"))
    n2 = compact_seen(spark, seen_dir, rows_per_file=64, major=False)
    assert n2 > 0
    gens = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch="))
    assert gens == ["batch=-2", "batch=-3"], gens  # raw dirs folded, L1 kept
    assert os.path.getmtime(os.path.join(gen1, "_fp_ranges.json")) == stamp
    assert _load_fp_ranges(os.path.join(seen_dir, "batch=-3")) is not None

    # a minor pass with nothing raw is a no-op
    assert compact_seen(spark, seen_dir, major=False) == 0
    assert sorted(
        d for d in os.listdir(seen_dir) if d.startswith("batch=")
    ) == ["batch=-2", "batch=-3"]

    # probes prune BOTH levels; dedup equals a full union scan
    probe = docs.where(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 70_000).alias("doc_id"), "text"
    )
    keys = dedup.batch_fp_keys(probe, "text")
    paths, selected, skipped = seen_probe_paths(seen_dir, keys)
    assert skipped > 0 and all(p.endswith(".parquet") for p in paths)
    got = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup(
            probe, read_seen_pruned(spark, seen_dir, keys),
            "text", "doc_id", seen_fp_col="fp",
        ).collect()
    )
    assert got == []  # every probed text already seen across the levels

    # major compaction folds the levels into one, same total distinct
    n3 = compact_seen(spark, seen_dir, rows_per_file=64)
    assert n3 == dedup.batch_fingerprints(docs, "text").count()
    assert sorted(
        d for d in os.listdir(seen_dir) if d.startswith("batch=")
    ) == ["batch=-4"]


def test_ingest_crash_after_append_before_fp_write_converges(
    spark, sf_dir, tmp_path
):
    """The OTHER crash window: batch 1's index append COMMITS, then the
    crash hits before the fingerprint write.  On restart foreachBatch
    replays batch 1: dedup re-selects the same survivors (seen lacks
    the batch), and the append must be a TOKEN NO-OP (its segment is
    already in the live manifest — the exactly-once branch that the
    before-commit crash test never reaches), then the fingerprint write
    completes.  Final state must equal the no-crash run with every
    document ingested exactly once."""
    import pytest

    from yet_another_map_reduce_spark.operators import dedup, similarity
    from yet_another_map_reduce_spark.streaming import streaming_ingest_pipeline

    docs, batches, replay, kw = _ingest_fixture(spark, sf_dir, tmp_path)
    index_dir = kw["index_dir"]
    schema = spark.read.parquet(os.path.join(replay, "b0")).schema
    ckpt = os.path.join(str(tmp_path), "ingest_ckpt")

    orig = dedup.batch_fingerprints
    state = {"writes": 0}

    def dying_fp(df, text_col):
        state["writes"] += 1
        if state["writes"] == 2:
            raise RuntimeError("injected crash after append commit")
        return orig(df, text_col)

    dedup.batch_fingerprints = dying_fp
    try:
        stream = file_stream(
            spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
        )
        q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(300)
    finally:
        dedup.batch_fingerprints = orig

    # batch 1's append COMMITTED (its segment is live) but its
    # fingerprints were not recorded — the asymmetric half-state
    live = similarity._resolve_index_dir(index_dir)
    assert "seg_b000000000001" in similarity._segment_names(live, index_dir)
    assert not os.path.exists(os.path.join(kw["seen_dir"], "batch=1"))

    # restart: batch 1 replays; its append must hit the token-skip
    # branch (no new segment, no duplicate vectors), then fp write lands
    stream = file_stream(
        spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
    )
    q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
    q.awaitTermination(300)

    live = similarity._resolve_index_dir(index_dir)
    segs = similarity._segment_names(live, index_dir)
    assert len([s for s in segs if s == "seg_b000000000001"]) == 1
    assert os.path.exists(os.path.join(kw["seen_dir"], "batch=1"))
    ids = _live_index_ids(spark, index_dir)
    assert len(ids) == len(set(ids)), "token no-op failed: double ingest"
    expected = _expected_ingested_ids(
        spark, docs, batches, kw["weights"], kw["feature_cols"], kw["threshold"]
    )
    assert {i for i in ids if i >= 200} == expected


def test_compaction_between_crash_and_replay_keeps_exactly_once(
    spark, sf_dir, tmp_path
):
    """r11 ADVICE (medium): the crash window above, but MAINTENANCE
    runs before the restart — a crashed stream IS stopped, so an
    operator reasonably compacts then.  compact_ivfpq_index folds the
    token-named segment away; the replayed batch's idempotency check
    must hit the manifest's carried-forward ``consumed_tokens`` instead
    of re-appending the batch's vectors as duplicates."""
    import pytest

    from yet_another_map_reduce_spark.operators import dedup, similarity
    from yet_another_map_reduce_spark.streaming import (
        maintain_ingest,
        streaming_ingest_pipeline,
    )

    docs, batches, replay, kw = _ingest_fixture(spark, sf_dir, tmp_path)
    index_dir = kw["index_dir"]
    schema = spark.read.parquet(os.path.join(replay, "b0")).schema
    ckpt = os.path.join(str(tmp_path), "ingest_ckpt")

    orig = dedup.batch_fingerprints
    state = {"writes": 0}

    def dying_fp(df, text_col):
        state["writes"] += 1
        if state["writes"] == 2:
            raise RuntimeError("injected crash after append commit")
        return orig(df, text_col)

    dedup.batch_fingerprints = dying_fp
    try:
        stream = file_stream(
            spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
        )
        q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(300)
    finally:
        dedup.batch_fingerprints = orig

    # batch 1's append committed but its checkpoint/fp write did not
    live = similarity._resolve_index_dir(index_dir)
    assert "seg_b000000000001" in similarity._segment_names(live, index_dir)

    # MAINTENANCE between crash and restart: the token-named segment is
    # folded into one anonymous segment and vacuumed away ...
    maintain_ingest(spark, index_dir, seen_dir=kw["seen_dir"],
                    keep_versions=0, retention_seconds=0)
    live = similarity._resolve_index_dir(index_dir)
    segs = similarity._segment_names(live, index_dir)
    assert len(segs) == 1 and "seg_b000000000001" not in segs
    # ... but the manifest remembers the token as consumed
    assert "b000000000001" in similarity._consumed_tokens(live, index_dir)

    # restart: batch 1 replays and must be a token no-op against the
    # compacted manifest; batch 2 then ingests normally
    stream = file_stream(
        spark, f"{replay}/b*", schema, fmt="parquet", max_files_per_trigger=1
    )
    q = streaming_ingest_pipeline(stream, checkpoint_dir=ckpt, **kw)
    q.awaitTermination(300)

    ids = _live_index_ids(spark, index_dir)
    assert len(ids) == len(set(ids)), (
        "compaction dropped the consumed token: replay double-ingested"
    )
    expected = _expected_ingested_ids(
        spark, docs, batches, kw["weights"], kw["feature_cols"], kw["threshold"]
    )
    assert {i for i in ids if i >= 200} == expected


def test_compact_seen_single_raw_generation_still_becomes_prunable(spark, tmp_path):
    """A MAJOR compaction over exactly one sidecar-less directory (one
    raw batch so far, or a compaction that crashed before its sidecar
    landed) must still range-sort it and publish the sidecar — only a
    single already-SORTED generation takes the rewrite-nothing early
    exit.  Without this, a single-batch seen relation never becomes
    prunable."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.streaming import compact_seen
    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    seen_dir = os.path.join(str(tmp_path), "seen1")
    docs = spark.createDataFrame(
        [(i, f"solo batch text {i}") for i in range(40)],
        "doc_id long, text string",
    )
    dedup.batch_fingerprints(docs, "text").write.parquet(
        os.path.join(seen_dir, "batch=0")
    )

    n = compact_seen(spark, seen_dir, rows_per_file=8, major=True)
    assert n == 40
    gens = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch="))
    assert gens == ["batch=-2"]
    ranges = _load_fp_ranges(os.path.join(seen_dir, "batch=-2"))
    assert ranges is not None and len(ranges) > 1

    # and a second major run over the now-sorted single generation IS
    # the no-op early exit: same count, directory untouched
    before = sorted(os.listdir(os.path.join(seen_dir, "batch=-2")))
    assert compact_seen(spark, seen_dir, major=True) == 40
    assert sorted(os.listdir(os.path.join(seen_dir, "batch=-2"))) == before


def test_ingest_pipeline_from_pyavro_feed_exactly_once(spark, sf_dir, tmp_path):
    """The two custom pieces composed end to end: an Avro container FEED
    (sources/avro_format.py streaming source — consumed-filename
    offsets) driving the full ingest pipeline (incremental dedup →
    frozen gate → exactly-once IVF-PQ append).  Batch 0 lands, an
    availableNow pass drains it; batches 1+2 land as new containers and
    a RESTART from the same checkpoint ingests ONLY them (the avro
    offset must not replay b0, the append tokens must not double-ingest
    anything).  The final index must equal the SAME golden expectation
    as the parquet-fed pipeline test — micro-batch grouping of the new
    files is immaterial because dedup keeps the min id and ids are
    ordered across batches."""
    from yet_another_map_reduce_spark.sources import avro_format
    from yet_another_map_reduce_spark.streaming import streaming_ingest_pipeline

    docs, batches, replay, kw = _ingest_fixture(spark, sf_dir, tmp_path)
    boot_ids = set(_live_index_ids(spark, kw["index_dir"]))
    avro_format.register(spark)

    feed = os.path.join(str(tmp_path), "avro_feed")
    os.makedirs(feed)
    schema = spark.read.parquet(os.path.join(replay, "b0")).schema
    avro_schema = avro_format.spark_schema_to_avro(schema)
    cols = [f.name for f in schema.fields]

    def land(i: int) -> None:
        # stage under a non-.avro name, rename into visibility LAST —
        # the stream reader's atomic-landing contract
        rows = [
            tuple(r[c] for c in cols)
            for r in spark.read.parquet(os.path.join(replay, f"b{i}")).collect()
        ]
        tmp = os.path.join(feed, f"b{i}.staging")
        avro_format.write_container(tmp, rows, avro_schema)
        os.rename(tmp, os.path.join(feed, f"b{i}.avro"))

    def run_pass() -> None:
        stream = (
            spark.readStream.format("pyavro")
            .schema(schema)
            .option("path", feed)
            .load()
        )
        q = streaming_ingest_pipeline(
            stream,
            checkpoint_dir=os.path.join(str(tmp_path), "avro_ingest_ckpt"),
            **kw,
        )
        q.awaitTermination(300)

    land(0)
    run_pass()
    after_b0 = {i for i in _live_index_ids(spark, kw["index_dir"]) if i >= 200}

    land(1)
    land(2)
    run_pass()  # restart: same checkpoint, must consume ONLY b1/b2

    ids = _live_index_ids(spark, kw["index_dir"])
    assert len(ids) == len(set(ids)), "a document was ingested twice"
    got_inc = {i for i in ids if i >= 200}
    assert after_b0 <= got_inc, "restart lost batch-0 ingests"
    expected = _expected_ingested_ids(
        spark, docs, batches, kw["weights"], kw["feature_cols"], kw["threshold"]
    )
    assert expected and got_inc == expected
    assert not {10_000 + i for i in range(10)} & got_inc
    assert 20_000 not in got_inc and 30_000 not in got_inc
    assert {i for i in ids if i < 200} == boot_ids


def test_socket_stream_reads_loopback_lines(spark):
    """The socket connector executed for real: an in-process TCP server
    on a loopback port feeds newline-delimited lines; the stream must
    surface every line in the `value string` contract.  This is the one
    network source the container can drive end to end (Kafka/JDBC stay
    plan-level by environment contract)."""
    import socket
    import threading
    import time

    from yet_another_map_reduce_spark.streaming import sources

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    payload = [f"line-{i:02d}" for i in range(20)]
    drained = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(payload) + "\n").encode())
            # hold the connection open until the reader has drained —
            # the socket source treats a peer close as query failure
            drained.wait(60)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = sources.socket_stream(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("sock_out")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) AS c FROM sock_out").collect()[0]["c"]
            if n >= len(payload):
                break
            time.sleep(0.5)
        got = sorted(
            r["value"] for r in spark.sql("SELECT * FROM sock_out").collect()
        )
        assert got == payload
    finally:
        drained.set()
        q.stop()
        srv.close()


def test_load_fp_ranges_tolerates_type_corrupt_sidecar(tmp_path):
    """A sidecar with non-string or missing min/max must return None
    (unpruned scan), never crash the ingest stream with TypeError."""
    import json
    import os

    from yet_another_map_reduce_spark.streaming.ingest import _load_fp_ranges

    gen = str(tmp_path / "batch=-2")
    os.makedirs(gen)
    side = os.path.join(gen, "_fp_ranges.json")
    json.dump({"files": [{"min": 3, "max": "zz", "file": "f"}]}, open(side, "w"))
    assert _load_fp_ranges(gen) is None
    json.dump({"files": [{"max": "zz", "file": "f"}]}, open(side, "w"))
    assert _load_fp_ranges(gen) is None
    json.dump({"files": ["not-a-dict"]}, open(side, "w"))
    assert _load_fp_ranges(gen) is None
    json.dump(
        {"files": [{"min": "aa", "max": "mm", "file": "f"}]}, open(side, "w")
    )
    assert _load_fp_ranges(gen) is not None
