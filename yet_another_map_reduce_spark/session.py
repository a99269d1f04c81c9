"""SparkSession factory tuned for the YaMR-capability engine.

The reference bootstraps a fixed-size cluster by hand (master spawns W
workers, ``/root/reference/Master/master.py:12-27``); in Spark the cluster
manager owns executor lifecycle, so the engine's "bootstrap" is one
well-configured ``SparkSession``.

Scale posture (designed for a ~1000-executor cluster over ~100 TB, tested
on local[*]):

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switches replace any hand-tuned static plan.
- ``spark.sql.shuffle.partitions`` is only the *initial* shuffle width;
  AQE coalesces it down.  At 100 TB you would raise the default via
  ``shuffle_partitions`` (rule of thumb: ~2-3x total cores, with
  ~128 MB-256 MB per post-shuffle partition).
- Arrow enabled so any Pandas-UDF fallback path is vectorized.
- Session timezone pinned to UTC so timestamp semantics are
  deterministic and independent of host configuration.
- Generated code is kept compiled for a session that re-runs its
  plans.  Spark caches compiled classes by source text, 100 by default;
  one perfbench curation pass (sf0.01, local[4], 4 shared vCPUs)
  generates about 165, so each warm pass evicted and recompiled about
  90 of them, 1.0-1.2 s of Janino time (``plans.codegen_compiles``).
  The cache holds 1000 (``spark.sql.codegen.cache.maxEntries``), and
  whole-stage classes are not named after their codegen stage id
  (``spark.sql.codegen.useIdInClassName``): under AQE a query's stage
  ids are not stable from run to run, so with the id in the name 6-24
  otherwise identical classes per warm pass still missed the cache.
  With both, warm passes compile 0-2 classes.
  Only sessions that re-run plans gain (services, notebooks, the
  benchmark's warm passes); a one-shot suite compiles every class once
  either way.
- DataFrame debugging is off
  (``spark.python.sql.dataFrameDebugging.enabled``).  With it on, every
  ``functions.*`` and Column call records its Python call site: four
  py4j round trips each (the origin class, a conf read, set, clear),
  plus an ``import IPython`` attempt.  A warm
  ``pipeline_curation_v2`` construction (sf0.01, local[4]) made 2,281
  py4j calls with it on and 1,001 with it off, and its median fell from
  0.28-0.34 s to 0.20-0.23 s.  The cost: a DataFrame error no longer
  names the Python line that built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "yet-another-map-reduce-spark"


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver convention) or all cores.  On a real
    cluster, pass ``master=None`` and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale workhorse ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans compile with AQE applied (default false keeps the
        # static shuffle width for output-partitioning compatibility):
        # without it every persist()/cache() — the operator-owned
        # tracked_cache relations, streaming ingest's per-batch vecs —
        # materializes and is re-read at the STATIC partition count
        # (shuffle_partitions tasks per downstream stage even for
        # KB-scale cached relations, each paying scheduler + Python
        # worker overhead), and skew-split/coalesce never applies to
        # cached subtrees at any scale.  Measured r15: ingest pipeline
        # 2-5x faster, every tracked_cache query 1.3-3x (OPTIMIZATION_r15.md).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MB
        # --- broadcast: dims like region/nation/supplier must broadcast ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- python interop: Arrow batches, never row-at-a-time pickling ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Python DataSource filter pushdown (yamr chunk-stats pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- generated-code reuse (module docstring); the cache size is
        # static: only the first session built in a JVM gets it ---
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # --- construction: no per-Column call-site capture (docstring) ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # keep the UI off in test/bench containers
        .config("spark.ui.enabled", "false")
    )
    # local-mode JVM heap: the 1g default is fine for the sf0.1 suite;
    # scale experiments (10x replicas) export SPARK_GRAFT_DRIVER_MEM.
    # Only effective before the JVM starts — first session in a process.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
