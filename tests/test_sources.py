"""Sources/sinks/catalog tests (reference verbs F1/F2/F9/F10)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.sources import Catalog, write_parquet, write_text
from yet_another_map_reduce_spark.sources.catalog import DatasetNotFound
from yet_another_map_reduce_spark.sources.readers import read_csv, read_orc, read_table, read_text
from yet_another_map_reduce_spark.sources.writers import compact_parquet, overwrite_partitions, write_orc


def test_catalog_write_read_roundtrip(spark, tmp_path):
    cat = Catalog(root=str(tmp_path / "meta"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    cat.write(df, "hundred", str(tmp_path / "hundred"), num_partitions=4)
    back = cat.read(spark, "hundred")
    assert back.count() == 100
    assert sorted(back.columns) == ["id", "v"]
    # manifest persisted: a fresh catalog instance resolves the name (F9)
    cat2 = Catalog(root=str(tmp_path / "meta"))
    assert cat2.read(spark, "hundred").count() == 100


def test_catalog_miss_raises(spark, tmp_path):
    cat = Catalog(root=str(tmp_path / "meta2"))
    with pytest.raises(DatasetNotFound):
        cat.resolve("nope")


def test_text_roundtrip_with_part_files(spark, tmp_path):
    """W-way partitioned text write -> part-* files -> merged read (F1+F2+F10)."""
    df = spark.createDataFrame([(f"line{i}",) for i in range(10)], "value string")
    out = str(tmp_path / "txt")
    write_text(df, out, num_partitions=3)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 3
    back = read_text(spark, out)
    assert sorted(r["value"] for r in back.collect()) == sorted(f"line{i}" for i in range(10))


def test_empty_partitions_are_legal(spark, tmp_path):
    """The reference pads blank files when lines < W
    (Client/client.py:164-175); Spark needs no padding."""
    df = spark.createDataFrame([("only",)], "value string")
    out = str(tmp_path / "pad")
    write_text(df, out, num_partitions=4)
    assert read_text(spark, out).count() == 1


def test_tsv_read_types_the_reference_schema(spark, tmp_path):
    """The reference's implied transactions schema (mapper.py:4-5),
    read as typed columns instead of opaque lines."""
    p = tmp_path / "tx.tsv"
    p.write_text("2012-07-16\t15:43\tLas Vegas\tMen's Clothing\t208.97\tVisa\n")
    schema = "date date, time string, location string, item string, cost double, payment string"
    df = read_csv(spark, str(p), schema=schema, sep="\t")
    row = df.collect()[0]
    assert row["location"] == "Las Vegas" and row["cost"] == 208.97


def test_parquet_partition_by(spark, tmp_path):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g int")
    out = str(tmp_path / "pq")
    write_parquet(df, out, partition_by=["g"])
    assert sorted(d for d in os.listdir(out) if d.startswith("g=")) == ["g=0", "g=1", "g=2"]
    # partition pruning path: reading one partition sees only its rows
    assert spark.read.parquet(out).where(F.col("g") == 1).count() == 10


def test_orc_roundtrip_with_partitioning(spark, tmp_path):
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g int")
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["g"])
    assert sorted(d for d in os.listdir(out) if d.startswith("g=")) == ["g=0", "g=1", "g=2"]
    back = read_orc(spark, out)
    assert back.count() == 30
    assert back.where(F.col("g") == 2).count() == 10


def test_events_nanos_timestamp_readable(spark, sf_dir):
    df = read_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() > 0


def test_dynamic_partition_overwrite_preserves_siblings(spark, tmp_path):
    """Rewriting one partition must not truncate the others (the
    idempotent-backfill contract)."""
    out = str(tmp_path / "dpo")
    base = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g int")
    write_parquet(base, out, partition_by=["g"])
    patch = spark.createDataFrame([(100, 1), (101, 1)], "id long, g int")
    overwrite_partitions(patch, out, partition_by=["g"])
    back = spark.read.parquet(out)
    assert back.where(F.col("g") == 0).count() == 10      # untouched
    assert back.where(F.col("g") == 2).count() == 10      # untouched
    got = sorted(r["id"] for r in back.where(F.col("g") == 1).collect())
    assert got == [100, 101]                              # replaced


def test_yamr_format_roundtrip_and_manifest(spark, tmp_path):
    """Write through the custom `yamr` DataSource (two-phase commit:
    chunks from tasks, manifest from the driver), read back with one
    input partition per manifest entry."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ds")
    src = spark.createDataFrame(
        [(f"city{i},{i * 1.5:.2f}",) for i in range(40)], "value string"
    ).repartition(3)
    src.write.format("yamr").option("path", out).option("name", "tx").mode("append").save()

    manifest = yamr_format.read_manifest(out, "tx")
    assert len(manifest) == 3
    assert all(f.startswith("tx_part-") for f, _ in manifest)
    # sizes in the manifest match the bytes on disk (the reference's contract)
    for fname, fsize in manifest:
        assert os.path.getsize(os.path.join(out, fname)) == fsize

    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert back.rdd.getNumPartitions() == 3
    assert sorted(r["value"] for r in back.collect()) == sorted(
        r["value"] for r in src.collect()
    )
    # line numbers are per-chunk ordinals starting at 0
    assert back.where((F.col("line_no") == 0)).count() == 3


def test_yamr_append_merges_manifest(spark, tmp_path):
    """Appending over an existing dataset keeps every prior manifest
    entry, writes the new chunks under a fresh generation prefix (no
    filename collisions with earlier writes), and the merged dataset
    reads back as the union."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ds")
    w = lambda df: (  # noqa: E731
        df.write.format("yamr").option("path", out).option("name", "tx")
    )
    base = spark.createDataFrame([(f"base{i}",) for i in range(10)], "value string")
    w(base.repartition(2)).mode("overwrite").save()
    assert len(yamr_format.read_manifest(out, "tx")) == 2

    extra1 = spark.createDataFrame([(f"gen1-{i}",) for i in range(5)], "value string")
    w(extra1.repartition(2)).mode("append").save()
    extra2 = spark.createDataFrame([(f"gen2-{i}",) for i in range(5)], "value string")
    w(extra2.repartition(1)).mode("append").save()

    manifest = yamr_format.read_manifest(out, "tx")
    names = [f for f, _ in manifest]
    assert len(manifest) == 5 and len(set(names)) == 5
    # base overwrite takes g00001; each append a fresh later generation
    assert sum(f.startswith("tx_part-g00002-") for f in names) == 2
    assert sum(f.startswith("tx_part-g00003-") for f in names) == 1
    for fname, fsize in manifest:
        assert os.path.getsize(os.path.join(out, fname)) == fsize

    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert sorted(r["value"] for r in back.collect()) == sorted(
        [f"base{i}" for i in range(10)]
        + [f"gen1-{i}" for i in range(5)]
        + [f"gen2-{i}" for i in range(5)]
    )
    # overwrite after appends resets the manifest to the new dataset only
    w(base.repartition(1)).mode("overwrite").save()
    assert len(yamr_format.read_manifest(out, "tx")) == 1


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    src, dst = str(tmp_path / "frag"), str(tmp_path / "compact")
    spark.range(5000).withColumn("v", F.col("id") * 2).repartition(40).write.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_before == 40
    compact_parquet(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_after == 1
    assert spark.read.parquet(dst).count() == 5000


def test_json_corrupt_records_captured_permissive(spark, tmp_path):
    """Malformed rows land in _corrupt_record instead of failing the
    job — ingestion at scale must quarantine, not crash."""
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{broken json!\n{"id": 3, "v": "ok2"}\n')
    df = spark.read.schema("id long, v string, _corrupt_record string").json(str(p))
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{broken")


def test_json_failfast_raises_on_corrupt(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1}\nnot json\n')
    df = spark.read.schema("id long").option("mode", "FAILFAST").json(str(p))
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_parquet_schema_evolution_merges_and_nulls(spark, tmp_path):
    from yet_another_map_reduce_spark.sources.readers import read_parquet_evolving

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, s string").write.mode(
        "overwrite"
    ).parquet(path)
    # a later producer adds a column
    spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double").write.mode(
        "append"
    ).parquet(path)
    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "s", "score"}
    got = {r["id"]: r["score"] for r in df.collect()}
    assert got == {1: None, 2: 9.5}


def test_read_table_normalizes_events_ts_layouts(spark, sf_dir, tmp_path):
    """events.ts physical type has varied across testdata generations
    (TIMESTAMP(NANOS) read as bigint under nanosAsLong; plain us
    timestamp-without-tz read as TIMESTAMP_NTZ).  read_table must give
    downstream epoch arithmetic a session-UTC TIMESTAMP either way —
    sessionize_gaps broke on the NTZ layout (cast-to-long rejected)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from yet_another_map_reduce_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "events")
    assert isinstance(e.schema["ts"].dataType, TimestampType)
    # epoch arithmetic (the thing NTZ rejects) works
    assert e.select(F.col("ts").cast("long")).first()[0] is not None

    # rebuild the NTZ layout explicitly and run it through the same path
    ntz_dir = os.path.join(str(tmp_path), "sfntz")
    os.makedirs(ntz_dir)
    e.limit(50).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.parquet(os.path.join(ntz_dir, "events.parquet"))
    e2 = read_table(spark, ntz_dir, "events")
    assert isinstance(e2.schema["ts"].dataType, TimestampType)
    # same UTC instants either way (session tz is pinned UTC)
    a = {r["event_id"]: r["epoch"] for r in
         e.limit(50).select("event_id", F.col("ts").cast("long").alias("epoch")).collect()}
    b = {r["event_id"]: r["epoch"] for r in
         e2.select("event_id", F.col("ts").cast("long").alias("epoch")).collect()}
    assert a == b


def test_footer_schema_equals_spark_inference(spark, sf_dir):
    """read_table declares the schema it reads from the parquet footer;
    it must be exactly the schema Spark would infer (TIMESTAMP_NTZ for
    timezone-less timestamps, every field nullable) for every canonical
    table of every scale factor."""
    import glob
    import os

    from yet_another_map_reduce_spark.sources.readers import (
        TABLES,
        _events_ts_is_nanos,
        _footer_schema,
        _spark_schema,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # every scale factor beside the test one, plus the benchmark's copy
    sf_dirs = glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")) + [
        os.path.join(root, "perfbench", "data", "sf0.01")
    ]
    checked = 0
    for d in sf_dirs:
        for name in TABLES:
            p = os.path.join(d, f"{name}.parquet")
            if not os.path.exists(p):
                continue
            footer = _footer_schema(p)
            if name == "events" and _events_ts_is_nanos(footer):
                continue  # read through Spark's inference under nanosAsLong
            assert _spark_schema(footer) == spark.read.parquet(p).schema, p
            checked += 1
    assert checked >= len(TABLES) - 1


def test_read_table_launches_no_spark_job(spark, sf_dir):
    """Building a table scan is pure planning: the schema comes from the
    footer, so no schema-inference job runs (one job per call before)."""
    import os

    from yet_another_map_reduce_spark.sources.readers import (
        TABLES,
        _events_ts_is_nanos,
        _footer_schema,
        read_table,
    )

    sc = spark.sparkContext
    group = "read_table_launches_no_spark_job"
    names = [
        n
        for n in TABLES
        if n != "events"
        or not _events_ts_is_nanos(_footer_schema(os.path.join(sf_dir, "events.parquet")))
    ]
    sc.setJobGroup(group, group)
    try:
        frames = [read_table(spark, sf_dir, n) for n in names]
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert all(f.columns for f in frames)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_write_training_shards_is_deterministic_and_bounded(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.sources.readers import read_table
    from yet_another_map_reduce_spark.sources.writers import write_training_shards

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    p1 = os.path.join(str(tmp_path), "shards1")
    p2 = os.path.join(str(tmp_path), "shards2")
    write_training_shards(d, p1, "doc_id", num_shards=4, seed=5, max_records_per_file=100)
    write_training_shards(
        d.repartition(7), p2, "doc_id", num_shards=4, seed=5, max_records_per_file=100
    )
    a = spark.read.parquet(p1)
    b = spark.read.parquet(p2)
    # PER-SHARD membership (not just the union) is identical regardless
    # of input layout: shard_id is an explicit function of the id hash,
    # so boundaries cannot drift with partitioning or sampling
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df.select("shard_id", "doc_id", "shuffle_key").collect())
    )
    assert key(a) == key(b)
    # hive layout: one dir per shard; every file respects the record cap
    shard_dirs = sorted(f for f in os.listdir(p1) if f.startswith("shard_id="))
    assert len(shard_dirs) == 4
    for sd in shard_dirs:
        for f in os.listdir(os.path.join(p1, sd)):
            if f.endswith(".parquet"):
                assert (
                    spark.read.parquet(os.path.join(p1, sd, f)).count() <= 100
                )
    assert a.count() == d.count()
    # shards are contiguous hash ranges: per-shard min/max don't overlap,
    # so concatenating dirs in shard_id order replays the global order
    ranges = [
        (r["shard_id"], r["mn"], r["mx"])
        for r in a.groupBy("shard_id")
        .agg(F.min("shuffle_key").alias("mn"), F.max("shuffle_key").alias("mx"))
        .orderBy("shard_id")
        .collect()
    ]
    for (_, _, hi1), (_, lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_read_training_shards_epoch_reshuffle(spark, sf_dir, tmp_path):
    import os

    from yet_another_map_reduce_spark.sources.readers import read_table
    from yet_another_map_reduce_spark.sources.writers import (
        read_training_shards,
        write_training_shards,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    p = os.path.join(str(tmp_path), "shards")
    write_training_shards(d, p, "doc_id", num_shards=3, seed=1)
    ep0 = [r["doc_id"] for r in read_training_shards(spark, p, "doc_id").collect()]
    ep1 = [r["doc_id"] for r in read_training_shards(spark, p, "doc_id", epoch_seed=2).collect()]
    assert sorted(ep0) == sorted(ep1)  # same corpus either way
    assert ep0 != ep1  # epoch reseed gives a new order
    # written order is reproducible
    assert ep0 == [r["doc_id"] for r in read_training_shards(spark, p, "doc_id").collect()]


def test_yamr_time_travel_reads_committed_snapshots(spark, tmp_path):
    """Every commit snapshots the manifest: version 1 keeps serving the
    pre-append dataset after an append, the live read sees the union,
    and a nonexistent version fails with the available versions listed."""
    import pytest

    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "tt")
    w = lambda df: (  # noqa: E731
        df.write.format("yamr").option("path", out).option("name", "tx")
    )
    base = spark.createDataFrame([("old1",), ("old2",)], "value string")
    w(base.repartition(1)).mode("overwrite").save()
    extra = spark.createDataFrame([("new1",)], "value string")
    w(extra.repartition(1)).mode("append").save()

    assert yamr_format.list_versions(out, "tx") == [1, 2]
    r = lambda: spark.read.format("yamr").option("path", out).option("name", "tx")  # noqa: E731
    assert sorted(x["value"] for x in r().load().collect()) == ["new1", "old1", "old2"]
    assert sorted(
        x["value"] for x in r().option("version", 1).load().collect()
    ) == ["old1", "old2"]
    assert sorted(
        x["value"] for x in r().option("version", 2).load().collect()
    ) == ["new1", "old1", "old2"]
    with pytest.raises(Exception, match="available: \\[1, 2\\]"):
        r().option("version", 9).load().collect()


def test_yamr_vacuum_prunes_unreachable_chunks_only(spark, tmp_path):
    """Vacuum with keep_versions=1 drops the pre-overwrite snapshot and
    its now-unreachable chunks, while everything referenced by the live
    manifest (or retained snapshots) survives and still reads back."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "vac")
    w = lambda df: (  # noqa: E731
        df.write.format("yamr").option("path", out).option("name", "tx")
    )
    w(spark.createDataFrame([("old",)], "value string").repartition(1)).mode(
        "overwrite"
    ).save()
    # overwrite again: v1's chunk is replaced in the live manifest but
    # still referenced by snapshot v1 (same filename is reused by the
    # second overwrite, so plant a distinct chunk via append instead)
    w(spark.createDataFrame([("extra",)], "value string").repartition(1)).mode(
        "append"
    ).save()
    w(spark.createDataFrame([("fresh",)], "value string").repartition(1)).mode(
        "overwrite"
    ).save()
    assert yamr_format.list_versions(out, "tx") == [1, 2, 3]

    res = yamr_format.vacuum(out, "tx", keep_versions=1, retention_seconds=0)
    assert res["removed_snapshots"] == [1, 2]
    # the g00001 append chunk is only reachable from dropped snapshots
    assert any("part-g00001" in c for c in res["removed_chunks"])
    assert yamr_format.list_versions(out, "tx") == [3]
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert [r["value"] for r in back.collect()] == ["fresh"]


def test_yamr_overwrite_never_clobbers_snapshot_chunks(spark, tmp_path):
    """Regression: a second overwrite must write NEW chunk files (fresh
    generation), or the v1 snapshot would silently serve the new data."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ow")
    w = lambda df: (  # noqa: E731
        df.write.format("yamr").option("path", out).option("name", "tx")
    )
    w(spark.createDataFrame([("first",)], "value string").repartition(1)).mode(
        "overwrite"
    ).save()
    w(spark.createDataFrame([("second",)], "value string").repartition(1)).mode(
        "overwrite"
    ).save()
    r = lambda: spark.read.format("yamr").option("path", out).option("name", "tx")  # noqa: E731
    assert [x["value"] for x in r().option("version", 1).load().collect()] == ["first"]
    assert [x["value"] for x in r().load().collect()] == ["second"]


def test_yamr_delete_where_is_copy_on_write(spark, tmp_path):
    """COW delete: matching rows vanish from the live dataset, the
    pre-delete snapshot still serves them, and vacuum then retires the
    old chunks."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "del")
    src = spark.createDataFrame(
        [("keep1",), ("drop1",), ("keep2",), ("drop2",)], "value string"
    ).repartition(1)
    src.write.format("yamr").option("path", out).option("name", "tx").mode(
        "overwrite"
    ).save()

    res = yamr_format.delete_where(spark, out, "tx", "value LIKE 'drop%'")
    assert res["deleted"] == 2 and res["remaining"] == 2
    r = lambda: spark.read.format("yamr").option("path", out).option("name", "tx")  # noqa: E731
    assert sorted(x["value"] for x in r().load().collect()) == ["keep1", "keep2"]
    assert sorted(
        x["value"] for x in r().option("version", 1).load().collect()
    ) == ["drop1", "drop2", "keep1", "keep2"]
    gone = yamr_format.vacuum(out, "tx", keep_versions=1, retention_seconds=0)
    assert gone["removed_snapshots"] == [1]
    assert sorted(x["value"] for x in r().load().collect()) == ["keep1", "keep2"]


def test_yamr_chunk_stats_prune_partitions_on_pushed_filters(spark, tmp_path):
    """Min/max chunk stats + pushFilters: a selective value predicate
    plans fewer input partitions (chunk skipping), while results stay
    identical to the unpruned filter — the stats only pick which chunks
    to open, Spark still evaluates every filter on the rows."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "prune")
    # range-partitioned so the three chunks carry disjoint value ranges
    src = spark.createDataFrame(
        [(f"{i:03d}-row",) for i in range(30)], "value string"
    ).repartitionByRange(3, "value")
    src.write.format("yamr").option("path", out).option("name", "tx").mode(
        "overwrite"
    ).save()
    assert len(yamr_format.read_chunk_stats(out, "tx")) == 3

    r = lambda: spark.read.format("yamr").option("path", out).option("name", "tx")  # noqa: E731
    full = r().load()
    assert full.rdd.getNumPartitions() == 3
    sel = r().load().where(F.col("value") >= "025-row")
    # only the chunk(s) whose max reaches past the cutoff get opened
    assert sel.rdd.getNumPartitions() < 3
    assert sorted(x["value"] for x in sel.collect()) == [
        f"{i:03d}-row" for i in range(25, 30)
    ]
    # prefix pushdown prunes too
    pre = r().load().where(F.col("value").startswith("00"))
    assert pre.rdd.getNumPartitions() < 3
    assert pre.count() == 10


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML source: schema'd write → read roundtrip with
    nested elements typed back."""
    from yet_another_map_reduce_spark.sources.readers import read_xml
    from yet_another_map_reduce_spark.sources.writers import write_xml

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5)], "id long, name string, score double"
    )
    out = str(tmp_path / "xml")
    write_xml(df, out, row_tag="item", root_tag="items", num_partitions=1)
    back = read_xml(spark, out, row_tag="item")
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert [(r["id"], r["name"], r["score"]) for r in rows] == [
        (1, "alpha", 1.5), (2, "beta", 2.5)]


def test_yamr_concurrent_writer_conflict_aborts_cleanly(spark, tmp_path):
    """Optimistic concurrency: a writer whose base manifest version was
    advanced by a concurrent commit must raise ManifestConflictError at
    commit time instead of silently last-write-winning — and the live
    dataset must still serve the winner's rows, with no extra snapshot
    published by the loser."""
    from yet_another_map_reduce_spark.sources import yamr_format
    from yet_another_map_reduce_spark.sources.yamr_format import (
        ManifestConflictError,
        YamrWriter,
        _PartCommit,
    )

    yamr_format.register(spark)
    out = str(tmp_path / "occ")
    w = lambda df, mode: (  # noqa: E731
        df.write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode(mode)
        .save()
    )
    w(spark.createDataFrame([("base",)], "value string").repartition(1), "overwrite")

    # Writer A starts an append: snapshots the manifest at version 1.
    slow = YamrWriter({"path": out, "name": "tx"}, append=True)
    assert slow.base_version == 1

    # Writer B lands a full append while A is still "running".
    w(spark.createDataFrame([("winner",)], "value string").repartition(1), "append")
    assert yamr_format.list_versions(out, "tx") == [1, 2]

    # A's commit must now abort — its merged entry list was computed
    # against a manifest that no longer exists.
    orphan = str(tmp_path / "occ" / "tx_part-g99999-00000.txt")
    with open(orphan, "w") as fh:
        fh.write("loser\n")
    with pytest.raises(ManifestConflictError, match="another writer"):
        slow.commit([_PartCommit("tx_part-g99999-00000.txt", 6)])

    # Loser published nothing: versions unchanged, live data = winner's.
    assert yamr_format.list_versions(out, "tx") == [1, 2]
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert sorted(x["value"] for x in back.collect()) == ["base", "winner"]


def test_yamr_vacuum_retention_spares_young_orphans(spark, tmp_path):
    """An unreferenced chunk younger than retention_seconds survives
    vacuum (it may belong to an in-flight write whose manifest hasn't
    been published yet); with retention 0 it is collected."""
    import os as _os

    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ret")
    (
        spark.createDataFrame([("live",)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("overwrite")
        .save()
    )
    # a just-written, not-yet-committed chunk: unreferenced but young
    inflight = _os.path.join(out, "tx_part-g00099-00000.txt")
    with open(inflight, "w") as fh:
        fh.write("pending\n")

    kept = yamr_format.vacuum(out, "tx", keep_versions=1)
    assert kept["removed_chunks"] == []
    assert _os.path.exists(inflight)

    gone = yamr_format.vacuum(out, "tx", keep_versions=1, retention_seconds=0)
    assert "tx_part-g00099-00000.txt" in gone["removed_chunks"]
    assert not _os.path.exists(inflight)


def test_yamr_vacuum_prunes_stats_sidecar(spark, tmp_path):
    """Stats entries for vacuumed chunks are dropped from the sidecar so
    it cannot grow without bound across overwrite/vacuum cycles."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "sp")
    w = lambda v: (  # noqa: E731
        spark.createDataFrame([(v,)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("overwrite")
        .save()
    )
    w("first")
    w("second")
    before = yamr_format.read_chunk_stats(out, "tx")
    assert len(before) == 2  # one chunk per generation
    res = yamr_format.vacuum(out, "tx", keep_versions=1, retention_seconds=0)
    assert res["removed_chunks"]
    after = yamr_format.read_chunk_stats(out, "tx")
    assert set(after) == set(before) - set(res["removed_chunks"])
    assert len(after) == 1


def test_yamr_write_null_values_is_stats_safe(spark, tmp_path):
    """Regression: a NULL value after a non-NULL one must not fail the
    write task's min/max stats tracking; NULL rows round-trip (as the
    string 'None' — the format is line-text, matching the reference's
    str() serialization) and the chunk still records real stats."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "nulls")
    (
        spark.createDataFrame([("aaa",), (None,), ("zzz",)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("overwrite")
        .save()
    )
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert back.count() == 3
    stats = yamr_format.read_chunk_stats(out, "tx")
    assert list(stats.values()) == [("aaa", "zzz")]


def test_yamr_delete_where_rewrites_only_matching_chunks(spark, tmp_path):
    """Chunk-pruned COW delete: a predicate whose matches live in one
    chunk rewrites that chunk only — the other chunks are carried over
    by reference (same filenames in the new manifest), not rewritten."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "pruned")
    w = lambda rows, mode: (  # noqa: E731
        spark.createDataFrame([(v,) for v in rows], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode(mode)
        .save()
    )
    w(["aaa-1", "aaa-2"], "overwrite")       # chunk g1
    w(["drop-1", "keep-1"], "append")        # chunk g2 (contains matches)
    w(["zzz-1", "zzz-2"], "append")          # chunk g3
    before = {e[0] for e in yamr_format.read_manifest(out, "tx")}
    assert len(before) == 3

    res = yamr_format.delete_where(spark, out, "tx", "value LIKE 'drop-%'")
    assert res["deleted"] == 1 and res["remaining"] == 5
    assert res["rewritten_chunks"] == 1 and res["carried_chunks"] == 2

    after = {e[0] for e in yamr_format.read_manifest(out, "tx")}
    # both non-matching chunks carried over verbatim; matching chunk
    # replaced by a new-generation rewrite
    g2 = next(f for f in before if "part-g00002" in f)
    assert (before - after) == {g2}
    assert sum(1 for f in after if f in before) == 2
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert sorted(x["value"] for x in back.collect()) == [
        "aaa-1", "aaa-2", "keep-1", "zzz-1", "zzz-2"]


def test_yamr_part_filter_prunes_chunks(spark, tmp_path):
    """An equality/IN filter on `part` prunes at the filename level:
    the scan plans exactly the named chunks as input partitions."""
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "partf")
    for i, mode in enumerate(["overwrite", "append", "append"]):
        (
            spark.createDataFrame([(f"v{i}",)], "value string")
            .repartition(1)
            .write.format("yamr")
            .option("path", out)
            .option("name", "tx")
            .mode(mode)
            .save()
        )
    r = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    names = sorted(x["part"] for x in r.select("part").distinct().collect())
    assert len(names) == 3
    one = r.where(F.col("part") == names[1])
    assert one.rdd.getNumPartitions() == 1
    assert [x["value"] for x in one.collect()] == ["v1"]
    two = r.where(F.col("part").isin(names[0], names[2]))
    assert two.rdd.getNumPartitions() == 2
    assert sorted(x["value"] for x in two.collect()) == ["v0", "v2"]


def test_yamr_noop_delete_commits_auditable_version(spark, tmp_path):
    """A delete with zero matches still commits a carried-only snapshot
    version (auditable history; one version per operation)."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "noop")
    (
        spark.createDataFrame([("keep",)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("overwrite")
        .save()
    )
    res = yamr_format.delete_where(spark, out, "tx", "value LIKE 'nope%'")
    assert res["deleted"] == 0 and res["rewritten_chunks"] == 0
    assert yamr_format.list_versions(out, "tx") == [1, 2]
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert [x["value"] for x in back.collect()] == ["keep"]


def test_yamr_register_enables_pushdown_conf(spark, tmp_path):
    """Regression for the r12 driver-session failure: Spark 4.1
    hard-errors (DATA_SOURCE_PUSHDOWN_DISABLED) when a Python reader
    implements pushFilters while spark.sql.python.filterPushdown.enabled
    is false — the DEFAULT in any session not built by build_session.
    register() must flip the (runtime-settable) conf so yamr reads work
    from any session that registers the format."""
    from yet_another_map_reduce_spark.sources import yamr_format

    conf = "spark.sql.python.filterPushdown.enabled"
    yamr_format.register(spark)
    out = str(tmp_path / "regds")
    (
        spark.createDataFrame([("a",), ("b",)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("append")
        .save()
    )
    read = lambda: (  # noqa: E731
        spark.read.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .load()
        .collect()
    )
    spark.conf.set(conf, "false")
    try:
        # sanity: the failure mode this guards against is real
        with pytest.raises(Exception, match="PUSHDOWN|pushFilters|DATA_SOURCE"):
            read()
        # the fix: register() re-enables the conf in-place
        yamr_format.register(spark)
        assert spark.conf.get(conf) == "true"
        assert sorted(r["value"] for r in read()) == ["a", "b"]
    finally:
        spark.conf.set(conf, "true")


def test_yamr_pushdown_option_reads_under_locked_conf(spark, tmp_path):
    """.option("pushdown", "false") selects YamrReaderNoPushdown, whose
    pushFilters attribute IS the base-class method, so Spark's
    implements-pushFilters probe passes even with the conf false — the
    escape hatch for sessions where the conf cannot be flipped.  Chunk
    pruning is lost; row-level correctness is not (pruning never
    filters rows)."""
    from yet_another_map_reduce_spark.sources import yamr_format

    conf = "spark.sql.python.filterPushdown.enabled"
    yamr_format.register(spark)
    out = str(tmp_path / "lockds")
    (
        spark.createDataFrame([(f"v{i}",) for i in range(5)], "value string")
        .repartition(2)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("append")
        .save()
    )
    spark.conf.set(conf, "false")
    try:
        back = (
            spark.read.format("yamr")
            .option("path", out)
            .option("name", "tx")
            .option("pushdown", "false")
            .load()
            .where(F.col("value") >= "v2")
        )
        assert sorted(r["value"] for r in back.collect()) == ["v2", "v3", "v4"]
    finally:
        spark.conf.set(conf, "true")


def test_yamr_manifest_corruption_fails_loudly(spark, tmp_path):
    """Manifest parsing is the format's trust root: a truncated,
    foreign, or garbled manifest must raise a ValueError naming the
    file and line — never half-parse into a wrong chunk list (the
    avro-side hardening discipline applied to the text format)."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "ds")
    (
        spark.createDataFrame([("x",)], "value string")
        .repartition(1)
        .write.format("yamr")
        .option("path", out)
        .option("name", "tx")
        .mode("append")
        .save()
    )
    mpath = os.path.join(out, "tx_manifest")
    good = open(mpath).read()

    # sane baseline
    assert yamr_format.read_manifest(out, "tx")

    for label, content in [
        ("zero-byte", ""),
        ("foreign file", "not,a,manifest,file\nwhatever\n"),
        ("garbled row", "filename,filesize,header\nchunk_a,notanumber,h\n"),
        ("missing column", "filename,filesize,header\nchunk_a,12\n"),
    ]:
        with open(mpath, "w") as fh:
            fh.write(content)
        with pytest.raises(ValueError, match="manifest"):
            yamr_format.read_manifest(out, "tx")

    # restore and confirm the dataset still reads
    with open(mpath, "w") as fh:
        fh.write(good)
    back = spark.read.format("yamr").option("path", out).option("name", "tx").load()
    assert [r["value"] for r in back.collect()] == ["x"]


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    """One PERMISSIVE scan, two relations: clean rows parse to the
    schema; unparseable lines AND type-drifted fields land in
    quarantine with the raw text and whatever partially parsed —
    nothing killed, nothing silently dropped (row conservation)."""
    from yet_another_map_reduce_spark.sources.readers import read_jsonl_quarantine

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "t": "ok"}\n'
        "{utterly broken\n"
        '{"id": 2, "t": "fine"}\n'
        '{"id": "not-an-int", "t": "drifted"}\n'
        '{"id": 3}\n'  # missing field: legal, reads NULL
    )
    good, bad = read_jsonl_quarantine(spark, str(p), "id bigint, t string")
    g = {r["id"]: r["t"] for r in good.collect()}
    assert g == {1: "ok", 2: "fine", 3: None}
    b = sorted((r["raw_line"], r["t"]) for r in bad.collect())
    assert b == [
        ('{"id": "not-an-int", "t": "drifted"}', "drifted"),
        ("{utterly broken", None),
    ]
    assert good.count() + bad.count() == 5  # conservation

    with pytest.raises(ValueError, match="_corrupt_record"):
        read_jsonl_quarantine(spark, str(p), "id bigint, _corrupt_record string")


def test_yamr_value_codec_roundtrips_nulls_and_newlines(spark, tmp_path):
    """NULLs and values with embedded newlines/backslashes round-trip
    losslessly (previously NULL came back as the string 'None' and an
    embedded newline split one row into two)."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "codec")
    rows = [("a\nb",), (None,), ("back\\slash",), ("\\N",), ("plain",)]
    df = spark.createDataFrame(rows, "value string")
    df.write.format("yamr").option("path", out).option("name", "tx").mode(
        "overwrite"
    ).save()
    back = (
        spark.read.format("yamr").option("path", out).option("name", "tx")
        .load().select("value").collect()
    )
    assert sorted((r["value"] is None, r["value"] or "") for r in back) == sorted(
        (v is None, v or "") for (v,) in rows
    )
    # the literal string '\\N' survives distinctly from NULL
    vals = [r["value"] for r in back]
    assert "\\N" in vals and None in vals


def test_yamr_stream_commit_appends_not_sorts(spark, tmp_path):
    """A stream micro-batch's manifest entries go at the END even when
    their names sort before existing entries (b... < g...): the stream
    reader's offset is a manifest prefix length, so a global sort would
    shift consumed entries and skip new ones."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "order")
    spark.createDataFrame([("x",), ("y",)], "value string").write.format(
        "yamr"
    ).option("path", out).option("name", "ev").mode("overwrite").save()
    before = yamr_format.read_manifest(out, "ev")
    assert all("_part-g" in f for f, _ in before)

    w = yamr_format.YamrStreamWriter({"path": out, "name": "ev"})
    fname = f"ev_part-b00000-{w.token}-00000-a0.txt"
    _, size, vmin, vmax = yamr_format._write_chunk_file(out, fname, [("z",)])
    w.commit([yamr_format._PartCommit(fname, size, vmin, vmax)], 0)
    after = yamr_format.read_manifest(out, "ev")
    assert after[: len(before)] == before  # prefix untouched
    assert after[-1][0] == fname  # stream entry appended


def test_yamr_stream_replay_never_truncates_committed_chunks(spark, tmp_path):
    """A replayed micro-batch (new writer instance, same batch id)
    writes its OWN chunk files and replaces the batch's manifest
    entries; the superseded chunk file's bytes are untouched (old code
    reopened the deterministic name with mode 'w', truncating data the
    manifest and snapshots still referenced)."""
    from yet_another_map_reduce_spark.sources import yamr_format

    out = str(tmp_path / "replay")
    import os

    os.makedirs(out)
    w1 = yamr_format.YamrStreamWriter({"path": out, "name": "ev"})
    f1 = f"ev_part-b00007-{w1.token}-00000-a0.txt"
    _, s1, mn, mx = yamr_format._write_chunk_file(out, f1, [("first",)])
    w1.commit([yamr_format._PartCommit(f1, s1, mn, mx)], 7)
    bytes1 = open(os.path.join(out, f1), "rb").read()

    w2 = yamr_format.YamrStreamWriter({"path": out, "name": "ev"})
    assert w2.token != w1.token
    f2 = f"ev_part-b00007-{w2.token}-00000-a0.txt"
    _, s2, mn2, mx2 = yamr_format._write_chunk_file(out, f2, [("replayed",)])
    w2.commit([yamr_format._PartCommit(f2, s2, mn2, mx2)], 7)

    manifest = yamr_format.read_manifest(out, "ev")
    assert [f for f, _ in manifest] == [f2]  # batch entries replaced
    assert open(os.path.join(out, f1), "rb").read() == bytes1  # intact


def _write_yamr(spark, out, name, values, mode="overwrite"):
    spark.createDataFrame(
        [(v,) for v in values], "value string"
    ).coalesce(1).write.format("yamr").option("path", out).option(
        "name", name
    ).mode(mode).save()


def test_yamr_stream_offset_detects_delete_under_tail(spark, tmp_path):
    """delete_where REMOVES touched entries mid-list, shifting every
    later manifest index: a tailing stream reader with a purely
    positional offset would silently skip unread chunks and re-read
    consumed rows through the rewrite chunk.  The offset is now
    self-validating (snapshot version + last-consumed entry name):
    the next micro-batch after the delete fails loudly by default and,
    under ignoreDeletes, repositions to exactly the not-yet-consumed
    entries (the rewrite chunk re-delivering survivors of consumed
    chunks is the documented Delta-ignoreDeletes caveat)."""
    import pytest

    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "tail")
    _write_yamr(spark, out, "tx", ["a1", "a2"])          # chunk 1
    _write_yamr(spark, out, "tx", ["b1", "b2"], "append")  # chunk 2

    rd = yamr_format.YamrStreamReader({"path": out, "name": "tx"})
    start = rd.initialOffset()
    o1 = rd.latestOffset()
    assert o1["n"] == 2 and o1["last"] is not None
    consumed = [
        v for p in rd.partitions(start, o1) for _, _, v in rd.read(p)
    ]
    assert sorted(consumed) == ["a1", "a2", "b1", "b2"]

    # more data arrives, then a delete rewrites chunk 1 (removes 'a1')
    _write_yamr(spark, out, "tx", ["c1"], "append")        # chunk 3
    yamr_format.delete_where(spark, out, "tx", "value = 'a1'")
    o2 = rd.latestOffset()

    with pytest.raises(yamr_format.NonAppendChangeError, match="ignoreDeletes"):
        rd.partitions(o1, o2)

    tol = yamr_format.YamrStreamReader(
        {"path": out, "name": "tx", "ignoreDeletes": "true"}
    )
    vals = [v for p in tol.partitions(o1, o2) for _, _, v in tol.read(p)]
    # unread chunk 3 is NOT skipped; chunk 1's survivor re-delivers
    # via the rewrite chunk (documented); nothing else re-reads
    assert sorted(vals) == ["a2", "c1"]


def test_yamr_stream_replay_reads_offset_snapshot_after_delete(spark, tmp_path):
    """Replaying a committed [start, end) range after a later delete
    re-reads IDENTICAL data: planning reads the manifest SNAPSHOT of
    the offset's version, not the live file."""
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "replay2")
    _write_yamr(spark, out, "tx", ["a1", "a2"])
    rd = yamr_format.YamrStreamReader({"path": out, "name": "tx"})
    start, end = rd.initialOffset(), rd.latestOffset()
    first = sorted(
        v for p in rd.partitions(start, end) for _, _, v in rd.read(p)
    )
    yamr_format.delete_where(spark, out, "tx", "value = 'a1'")
    replay = sorted(
        v for p in rd.partitions(start, end) for _, _, v in rd.read(p)
    )
    assert replay == first == ["a1", "a2"]


def test_yamr_legacy_chunk_codec_reads_verbatim(spark, tmp_path):
    """Chunk files written before the escape codec (plain .txt names)
    are read VERBATIM — a legacy stored value like '\\N' or 'a\\nb'
    must not be unescaped into NULL or a newline (the codec version
    rides in the chunk FILENAME: only .esc.txt chunks decode)."""
    import os

    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    out = str(tmp_path / "legacy")
    os.makedirs(out)
    legacy = "tx_part-g00001-deadbeef-00000-a0.txt"  # pre-upgrade name
    with open(os.path.join(out, legacy), "w", encoding="utf-8") as fh:
        fh.write("\\N\n\\n\nNone\nplain\n")
    size = os.path.getsize(os.path.join(out, legacy))
    yamr_format._commit_manifest(out, "tx", [(legacy, size)])

    back = sorted(
        r["value"]
        for r in spark.read.format("yamr")
        .option("path", out).option("name", "tx").load().collect()
    )
    assert back == sorted(["\\N", "\\n", "None", "plain"])

    # a post-upgrade append mixes codecs in one dataset: new chunk
    # escapes, legacy chunk stays verbatim
    _write_yamr(spark, out, "tx", ["x\ny"], "append")
    names = [f for f, _ in yamr_format.read_manifest(out, "tx")]
    assert any(f.endswith(".esc.txt") for f in names) and legacy in names
    vals = sorted(
        r["value"]
        for r in spark.read.format("yamr")
        .option("path", out).option("name", "tx").load().collect()
    )
    assert vals == sorted(["\\N", "\\n", "None", "plain", "x\ny"])


def test_jsonl_quarantine_handles_dotted_field_names(spark, tmp_path):
    """Dotted JSON keys (routine in web-crawl JSONL) must project via
    getField, not the string path form which misparses them as nested
    struct paths (r15 review finding: FIELD_NOT_FOUND crash)."""
    from pyspark.sql import types as T

    from yet_another_map_reduce_spark.sources.readers import read_jsonl_quarantine

    p = tmp_path / "dotted.jsonl"
    p.write_text('{"user.name": "ada", "id": 1}\n{broken\n')
    schema = T.StructType(
        [T.StructField("user.name", T.StringType()), T.StructField("id", T.LongType())]
    )
    good, bad = read_jsonl_quarantine(spark, str(p), schema)
    g = good.collect()
    assert len(g) == 1 and g[0]["user.name"] == "ada" and g[0]["id"] == 1
    assert bad.count() == 1


def test_jsonl_quarantine_rejects_raw_line_in_schema(spark, tmp_path):
    import pytest

    from yet_another_map_reduce_spark.sources.readers import read_jsonl_quarantine

    p = tmp_path / "x.jsonl"
    p.write_text("{}\n")
    with pytest.raises(ValueError, match="raw_line"):
        read_jsonl_quarantine(spark, str(p), "id bigint, raw_line string")


def test_compact_parquet_rejects_empty_or_remote_src(spark, tmp_path):
    """total=0 must raise, not silently rewrite the dataset through one
    task into a single file (the os.walk of a remote URI or typo'd
    path yields nothing)."""
    import pytest

    from yet_another_map_reduce_spark.sources.writers import compact_parquet

    empty = tmp_path / "nothing"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no local .parquet"):
        compact_parquet(spark, str(empty), str(tmp_path / "out"))


def test_read_table_events_does_not_mutate_caller_conf(spark, sf_dir):
    """The nanosAsLong flip is scoped to a cloned session: the caller's
    session conf is untouched before, during, and after (previously a
    set/restore on the shared session raced concurrent reads)."""
    from yet_another_map_reduce_spark.sources.readers import read_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    df = read_table(spark, sf_dir, "events")
    assert spark.conf.get(key, None) == before
    # and the frame composes with frames from the caller's session
    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("user_id")
    )
    assert df.join(d, "user_id").limit(1).count() in (0, 1)
    assert df.schema["ts"].dataType.simpleString() == "timestamp"


def test_read_table_nanos_generation_floor_division(spark, tmp_path):
    """A genuine TIMESTAMP(NANOS) events file (synthesized via pyarrow)
    converts with exact FLOOR division: a pre-1970 instant that is not
    a whole microsecond must round DOWN (`div` truncation shifted it
    +1 µs vs the oracle's floor-based epoch arithmetic)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as papq

    from yet_another_map_reduce_spark.sources.readers import (
        _events_ts_is_nanos,
        _footer_schema,
        read_table,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array([-1, 1_500], type=pa.timestamp("ns")),
        }
    )
    papq.write_table(tbl, str(sf / "events.parquet"), store_schema=False)
    assert _events_ts_is_nanos(_footer_schema(str(sf / "events.parquet")))
    rows = {r["event_id"]: r["ts"] for r in read_table(spark, str(sf), "events").collect()}
    # -1 ns floors to -1 us (23:59:59.999999), NOT to epoch
    assert rows[1] == dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
    # +1500 ns floors to +1 us
    assert rows[2] == dt.datetime(1970, 1, 1, 0, 0, 0, 1)
    # and the caller's session conf was never left flipped
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
