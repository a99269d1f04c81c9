"""End-to-end streaming ingest: the production composition the
LLM-data-pipeline operators exist for (reference has no streaming at
all — its ingest is one-shot file upload, ``/root/reference/Client/
client.py:74``; this is the capability the north star implies on top).

Per micro-batch (``foreachBatch``), in this order:

1. **Incremental dedup** — drop documents whose normalized-text
   fingerprint is already in the accumulated "seen" relation
   (:func:`~yet_another_map_reduce_spark.operators.dedup.incremental_dedup`
   with ``seen_fp_col``: the seen table holds compact md5 fingerprints,
   never corpus text).
2. **Quality gate** — score the survivors with FROZEN averaged-
   perceptron weights shipped as plan literals
   (:func:`~yet_another_map_reduce_spark.operators.classify.quality_gate`
   — stateless, map-only, no state store).
3. **Embed + index append** — hash-embed the gated documents
   (:func:`~yet_another_map_reduce_spark.operators.text.hash_embed_dense`)
   and append them to the persisted IVF-PQ index under the OCC commit
   lock, with the micro-batch id as the idempotency token
   (:func:`~yet_another_map_reduce_spark.operators.similarity
   .append_to_ivfpq_index` ``token=``).
4. **Record fingerprints** — append the batch's distinct fingerprints
   (survivors AND rejected: a re-crawl of a gated-out document must not
   be re-scored) to the seen relation, written to a batch-id-derived
   subdirectory so replays overwrite instead of duplicating.

Crash-consistency, end to end: steps run in the order above, every
step is either idempotent (1, 2 are pure; 3 is token-deduplicated; 4
overwrites a deterministic path) and ``foreachBatch`` replays the whole
batch after a failure, so a crash at ANY point — including between the
index segment write and the ``CURRENT`` pointer swap — converges to
exactly-once ingest on restart, and a reader NEVER sees a half-commit
(the pointer swap is the last, atomic, lock-guarded step; pinned by
``tests/test_streaming.py::test_ingest_pipeline_crash_mid_batch_never_serves_half_commit``).

Scale shape (100 TB): each micro-batch touches batch-sized data plus
one fingerprint anti-join against the seen relation (fixed-width keys,
co-partitioned) and one model-sized broadcast (weights are literals,
centroids/codebooks KB-scale); the corpus and the index are never
rescanned.  The seen relation accumulates one hive directory per batch
— compact it periodically like any streaming sink (the index side's
compaction is :func:`compact_ivfpq_index`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from yet_another_map_reduce_spark.operators import classify, dedup, similarity, text
from yet_another_map_reduce_spark.localrel import local_relation


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_dir: str,
    seen_dir: str,
    weights: list[int],
    feature_cols: list[str],
    featurize: Callable[[DataFrame, str], DataFrame],
    threshold: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    embed_dim: int = 16,
) -> None:
    """One micro-batch of the ingest pipeline — the ``foreachBatch``
    body, callable directly on a batch DataFrame too (batch/stream
    parity: the golden test replays the same corpus through both paths
    and compares the final index).  See the module docstring for the
    stage order and the crash-consistency argument."""
    spark = batch_df.sparkSession

    # 1. incremental dedup against the accumulated fingerprint relation.
    # The seen side is read PRUNED: the batch's distinct fingerprints
    # (a batch-bounded collect — KB-scale keys, never corpus data)
    # select only the compacted-generation files whose [min, max] range
    # can contain them, so the probe touches ~|keys| files instead of
    # the whole relation (r11 verdict item 2; sidecar-less generations
    # fall back to a full scan, so results never depend on pruning)
    if _seen_exists(seen_dir):
        keys = dedup.batch_fp_keys(batch_df, text_col)
        seen = read_seen_pruned(spark, seen_dir, keys)
        fresh_ids = dedup.incremental_dedup(
            batch_df, seen, text_col, id_col, seen_fp_col="fp"
        ).select(id_col)
    else:
        # bootstrap: first batch dedups only within itself
        fresh_ids = dedup.incremental_dedup(
            batch_df, batch_df.limit(0), text_col, id_col
        ).select(id_col)
    fresh = batch_df.join(fresh_ids, id_col)

    # 2. stateless quality gate with the frozen model, featurized on the
    # same text_col that dedup and embedding read
    gated = classify.quality_gate(
        featurize(fresh, text_col), weights, feature_cols, threshold=threshold
    )

    # 3. embed + exactly-once index append (batch_id is the txn token).
    # vecs is PERSISTED across the emptiness check and the append's two
    # consumers (cell assignment + PQ encoding): without the cache the
    # whole dedup->gate->embed lineage — including the map-only scan of
    # the corpus-sized seen relation — would re-evaluate three times
    # per micro-batch instead of once.
    vecs = text.hash_embed_dense(
        gated.select(id_col, text_col), text_col, id_col, dim=embed_dim
    ).persist()
    try:
        if vecs.count() > 0:
            similarity.append_to_ivfpq_index(
                spark, index_dir, vecs, id_col, "embedding",
                token=f"b{batch_id:012d}",
            )

        # 4. record the WHOLE batch's fingerprints (idempotent: the
        # path is batch-id-derived and overwritten on replay)
        dedup.batch_fingerprints(batch_df, text_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(seen_dir, f"batch={batch_id}"))
    finally:
        vecs.unpersist()


def _seen_exists(seen_dir: str) -> bool:
    """True once at least one batch directory has committed (parquet's
    _SUCCESS-less hive layout: any ``batch=*`` subdir with files)."""
    if not os.path.isdir(seen_dir):
        return False
    for d in os.listdir(seen_dir):
        p = os.path.join(seen_dir, d)
        if d.startswith("batch=") and os.path.isdir(p) and os.listdir(p):
            return True
    return False


def compact_seen(
    spark,
    seen_dir: str,
    rows_per_file: int | None = None,
    major: bool = True,
) -> int:
    """Fold the ingest's accumulated per-batch fingerprint directories
    into ONE distinct relation — the seen-side analog of
    ``compact_ivfpq_index`` (module docstring: the seen relation grows
    one hive directory per micro-batch; nightly appends make it a
    many-small-files scan).  Returns the compacted fingerprint count.

    ``major=False`` is the LSM-style MINOR compaction: fold only the
    sidecar-less directories (raw per-batch dirs, plus any generation a
    crashed compaction left without its sidecar) into one NEW sorted +
    sidecar'd generation, leaving existing sorted generations
    untouched.  Cost is O(new data since last maintenance) instead of
    O(corpus) — the L0→L1 shape — at the price of (a) transient
    duplicate fingerprints across generations (harmless: the probe
    semi-join distincts its hits) and (b) probes touching ~|keys| files
    PER generation (``seen_probe_paths`` prunes each level
    independently).  Run ``major=True`` periodically to fold the levels
    back into one and drop the cross-level duplicates.  Returns the NEW
    generation's row count for minor runs (counting the whole relation
    would defeat the point).

    The compacted generation is RANGE-SORTED on the fingerprint
    (``repartitionByRange`` + in-partition sort — the 1-column case of
    the z-order writer's recipe, ``sources/zorder.py``) and carries a
    ``_fp_ranges.json`` sidecar of per-file [min, max] fingerprint
    ranges.  That layout is what makes the seen relation PRUNABLE: a
    micro-batch's probe keys each land in exactly one file's range, so
    :func:`read_seen_pruned` scans ~``|keys|`` files of
    ``rows_per_file`` rows instead of the whole relation — the one
    per-batch cost that previously grew linearly with corpus size
    (r11 verdict item 2: 0.52 s at 100× but 5.37 s at 10,000×; the
    bloom-filter attempt is a recorded negative, BASELINE.md).

    ``rows_per_file`` balances probe decode cost (``keys ×
    rows_per_file`` rows) against sidecar/metadata size (``n /
    rows_per_file`` entries); the default ``ceil(sqrt(n))`` makes both
    grow as sqrt(n), i.e. per-batch probe cost O(keys·sqrt(n)) instead
    of O(n).

    Crash-safe by the dedup semantics themselves: the compacted
    directory commits BEFORE the old batch directories are removed, and
    duplicate fingerprints across directories are harmless to
    ``incremental_dedup`` (the semi join's hits are distinct'd), so a
    crash between write and cleanup only costs bytes, never
    correctness; a crash between the parquet write and the sidecar
    write leaves a generation without ``_fp_ranges.json``, which
    readers simply scan unpruned.  Run it while the ingest stream is
    STOPPED — a batch directory mid-write during the listing would be
    read partially but deleted fully, losing fingerprints."""
    import math
    import shutil

    if not os.path.isdir(seen_dir):
        return 0  # maintenance fired before the first batch ever landed
    all_gens = [
        d
        for d in os.listdir(seen_dir)
        if d.startswith("batch=") and os.path.isdir(os.path.join(seen_dir, d))
    ]
    if not all_gens:
        return 0  # fresh or fully-compacted-and-emptied dir: nothing to fold
    old = (
        all_gens
        if major
        else [
            d
            for d in all_gens
            if _load_fp_ranges(os.path.join(seen_dir, d)) is None
        ]
    )
    if not old:
        return 0  # minor run with nothing raw to fold: no-op
    if (
        major
        and len(old) == 1
        and _load_fp_ranges(os.path.join(seen_dir, old[0])) is not None
    ):
        # already one SORTED generation: folding would rewrite the full
        # relation (and march the generation id downward) for nothing.
        # A single sidecar-less dir (one raw batch, or a compaction that
        # crashed before its sidecar) does NOT take this exit — it still
        # needs the range sort to become prunable.
        return spark.read.parquet(os.path.join(seen_dir, old[0])).count()
    paths = [os.path.join(seen_dir, d) for d in old]
    # NULL fingerprints (NULL-text documents) never equi-match anything,
    # so they carry no dedup information — and an all-NULL parquet file
    # has no min/max stats, which would leave the range sidecar unable
    # to account for it (an unlisted file would be wrongly skipped).
    # Drop them at the fold.
    fps = (
        spark.read.parquet(*paths)
        .select("fp")
        .where(F.col("fp").isNotNull())
        .distinct()
    )
    # file sizing needs a row count BEFORE the write; the pre-distinct
    # sum is a parquet-metadata-only upper bound (each batch dir is
    # already internally distinct), so overshooting the file count by
    # the cross-batch dup fraction is the whole cost of avoiding a
    # second distinct pass
    # ONE metadata-only count job over all folded dirs (basePath keeps
    # the sibling batch= dirs readable as one relation) — per-path
    # counts were one sequential Spark job per directory, which after a
    # day of 30 s micro-batches is thousands of driver round-trips
    n_bound = (
        spark.read.option("basePath", seen_dir).parquet(*paths).count()
    )
    if rows_per_file is None:
        rows_per_file = max(4096, math.ceil(math.sqrt(max(1, n_bound))))
    num_files = max(1, math.ceil(n_bound / rows_per_file))
    # the compacted generation gets a fresh batch id BELOW every real
    # one (and every existing generation), so replayed stream batches —
    # and later compactions — can never collide with it
    gen = min(int(d.split("=", 1)[1]) for d in all_gens) - 1
    target = os.path.join(seen_dir, f"batch={min(gen, -2)}")
    (
        fps.repartitionByRange(num_files, "fp")
        .sortWithinPartitions("fp")
        .write.mode("overwrite")
        .parquet(target)
    )
    n = _write_fp_ranges(spark, target)
    for d in old:
        p = os.path.join(seen_dir, d)
        if p != target:
            shutil.rmtree(p)
    return n


_FP_RANGES_FILE = "_fp_ranges.json"  # _-prefixed: invisible to parquet readers
#: sorted seen-relation levels at which maintain_ingest runs a major fold
_MAX_SEEN_LEVELS = 4


def _write_fp_ranges(spark, gen_dir: str) -> int:
    """Write the per-file [min, max] fingerprint-range sidecar for a
    range-sorted generation, returning its total row count.  One
    aggregate scan of the just-written generation; the collect is
    file-count-bounded (3 scalars per file), not row data."""
    import json

    from urllib.parse import urlparse

    stats = (
        spark.read.parquet(gen_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("fp").alias("mn"), F.max("fp").alias("mx"), F.count("*").alias("c"))
        .collect()
    )
    if any(r["mn"] is None or r["mx"] is None for r in stats):
        # a file with no non-NULL fingerprints has no usable range; a
        # sidecar that cannot list every file would let the pruner skip
        # real data, so write none — the generation scans unpruned.
        # compact_seen's isNotNull fold makes this unreachable for our
        # own generations; the guard covers hand-built ones.
        return sum(r["c"] for r in stats)
    files = sorted(
        (
            {
                "file": os.path.basename(urlparse(r["f"]).path),
                "min": r["mn"],
                "max": r["mx"],
            }
            for r in stats
        ),
        key=lambda e: e["min"],
    )
    tmp = os.path.join(gen_dir, f".{_FP_RANGES_FILE}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"files": files}, fh)
    os.replace(tmp, os.path.join(gen_dir, _FP_RANGES_FILE))
    return sum(r["c"] for r in stats)


def _load_fp_ranges(gen_dir: str) -> list[dict] | None:
    """The generation's range sidecar as a min-sorted list, or None if
    absent/unusable (pre-layout generations, raw per-batch dirs, a
    compaction that crashed before the sidecar landed) — None means
    the caller must scan the whole directory.  Overlapping ranges
    (which range partitioning never produces, but a hand-edited or
    corrupted sidecar could) also return None: pruning must never be
    able to skip a file that holds a probe key."""
    import json

    try:
        with open(
            os.path.join(gen_dir, _FP_RANGES_FILE), encoding="utf-8"
        ) as fh:
            files = json.load(fh)["files"]
        # shape validation + overlap check inside the guard: a corrupted
        # sidecar (non-string or missing min/max/file) must mean "None →
        # unpruned scan", never a TypeError crashing the ingest stream —
        # whether it surfaces here in the sort or later in the probe's
        # string bisect
        if not all(
            isinstance(e.get("min"), str)
            and isinstance(e.get("max"), str)
            and isinstance(e.get("file"), str)
            for e in files
        ):
            return None
        files = sorted(files, key=lambda e: e["min"])
        for a, b in zip(files, files[1:]):
            if b["min"] <= a["max"]:
                return None  # overlap: distrust the sidecar entirely
    except (FileNotFoundError, KeyError, ValueError, TypeError, AttributeError):
        return None
    return files


def seen_probe_paths(seen_dir: str, keys: list[str]) -> tuple[list[str], int, int]:
    """Resolve which parquet paths a probe with ``keys`` must scan:
    for each generation with a valid range sidecar, only the FILES
    whose [min, max] contains at least one key (bisect per key —
    driver-side metadata work, O(|keys| · log files)); generations and
    raw batch directories without a sidecar are included whole.
    Returns ``(paths, files_selected, files_skipped)`` — the skip count
    is the measured pruning claim
    (tests/test_streaming.py::test_seen_probe_prunes_file_subset)."""
    from bisect import bisect_right

    paths: list[str] = []
    selected = skipped = 0
    if not os.path.isdir(seen_dir):
        return paths, 0, 0
    for d in sorted(os.listdir(seen_dir)):
        p = os.path.join(seen_dir, d)
        if not d.startswith("batch=") or not os.path.isdir(p):
            continue
        ranges = _load_fp_ranges(p)
        if ranges is None:
            paths.append(p)  # unpruned: scan the whole directory
            continue
        mins = [e["min"] for e in ranges]
        hit: set[str] = set()
        for k in keys:
            i = bisect_right(mins, k) - 1
            if i >= 0 and ranges[i]["min"] <= k <= ranges[i]["max"]:
                hit.add(ranges[i]["file"])
        selected += len(hit)
        skipped += len(ranges) - len(hit)
        paths.extend(os.path.join(p, f) for f in sorted(hit))
    return paths, selected, skipped


def read_seen_pruned(spark, seen_dir: str, keys: list[str]) -> DataFrame:
    """The seen relation RESTRICTED to the files that can contain any
    of ``keys`` — a superset of ``seen ∩ keys``, which is exactly what
    :func:`~yet_another_map_reduce_spark.operators.dedup
    .incremental_dedup`'s semi-join consumes, so substituting the
    pruned frame for the full relation never changes dedup results
    (pinned by test).  Per-batch scan cost is ~``|keys| ×
    rows_per_file`` rows against a compacted generation instead of the
    whole relation."""
    paths, _, _ = seen_probe_paths(seen_dir, keys)
    if not paths:
        return local_relation(spark, [], "fp string")
    return spark.read.parquet(*paths).select("fp")


def streaming_ingest_pipeline(
    docs_stream: DataFrame,
    *,
    index_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    weights: list[int],
    feature_cols: list[str],
    featurize: Callable[[DataFrame, str], DataFrame],
    threshold: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    embed_dim: int = 16,
    trigger: dict | None = None,
):
    """Wire :func:`ingest_batch` onto a ``readStream`` of documents and
    start it.  ``trigger`` passes through to
    ``DataStreamWriter.trigger`` — default ``{"availableNow": True}``
    processes the backlog then stops (the nightly-catchup shape);
    ``{"processingTime": "30 seconds"}`` runs a long-lived ingest.  The
    checkpoint makes either mode resumable and their batch ids (and so
    the append txn tokens) consistent across mode switches.

    Requires an EXISTING committed index at ``index_dir`` (the
    bootstrap build is a batch job: ``build_ivfpq_index_auto`` over the
    initial corpus) — appends need the frozen model sidecar."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            batch_id,
            index_dir=index_dir,
            seen_dir=seen_dir,
            weights=weights,
            feature_cols=feature_cols,
            featurize=featurize,
            threshold=threshold,
            id_col=id_col,
            text_col=text_col,
            embed_dim=embed_dim,
        )

    return (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def maintain_ingest(
    spark,
    index_dir: str,
    seen_dir: str,
    keep_versions: int = 2,
    retention_seconds: float = 3600.0,
) -> dict:
    """The periodic maintenance job for a running ingest deployment,
    run while the stream is STOPPED (both halves document why): fold
    the per-batch fingerprint directories (:func:`compact_seen` —
    minors nightly and majors only when the sorted-level count hits
    ``_MAX_SEEN_LEVELS``), fold the index's accumulated append segments
    into one (:func:`compact_ivfpq_index` — search results bit-identical by
    that function's contract), then vacuum index versions/segments
    past the retention window (:func:`vacuum_ivfpq_index`).

    Safe to run on a CRASHED (hence stopped) stream whose last batch
    appended but never checkpointed: compaction carries the manifest's
    consumed append tokens forward, so the batch's replay on restart
    still hits the exactly-once no-op branch even though its
    token-named segment was folded away (r11 ADVICE; pinned by
    ``test_compaction_between_crash_and_replay_keeps_exactly_once``).

    Returns a summary dict: ``seen_fps`` (compacted fingerprint
    count), ``index_version`` (the compacted live version dir), and
    the vacuum stats."""
    # the LSM trigger policy: a minor fold keeps nightly maintenance
    # O(new data) — the raw batch dirs fold into one new sorted level
    # and existing sorted generations stay untouched — until the
    # sorted-level count reaches _MAX_SEEN_LEVELS, then one major fold.
    # Probe cost is level-independent (flat through 8 levels at 200M
    # fps, BASELINE.md §r13) while a major fold costs 214× a minor at
    # 200M fps (447.8 s vs 2.09 s, BASELINE.md §r14), so majors fire
    # only on the bookkeeping trigger, never every night
    levels = (
        sum(
            1
            for d in os.listdir(seen_dir)
            if d.startswith("batch=")
            and _load_fp_ranges(os.path.join(seen_dir, d)) is not None
        )
        if os.path.isdir(seen_dir)
        else 0
    )
    seen_fps = compact_seen(spark, seen_dir, major=levels >= _MAX_SEEN_LEVELS)
    live = similarity._resolve_index_dir(index_dir)
    if len(similarity._segment_names(live, index_dir)) > 1:
        version = similarity.compact_ivfpq_index(spark, index_dir)
    else:
        version = live  # already one segment: a compaction would rewrite
        # the full corpus-scale index into a new version for nothing
    vac = similarity.vacuum_ivfpq_index(
        index_dir, keep_versions=keep_versions,
        retention_seconds=retention_seconds,
    )
    return {"seen_fps": seen_fps, "index_version": version, "vacuum": vac}
