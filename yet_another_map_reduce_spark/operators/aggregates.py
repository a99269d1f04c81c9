"""Aggregation operators.

The reference's only aggregation is a sort-based streaming per-key MAX in
user code (``/root/reference/reducer.py:16-40``) with NO map-side combine
— every record crosses the shuffle (``Worker/worker.py:120-127``).
Spark's hash aggregate does partial (map-side) + final aggregation
automatically, so each helper here is strictly stronger than the
reference's substrate by construction.

Scale notes:
- partial agg means shuffle volume is O(groups), not O(rows);
- high-cardinality DISTINCT should use ``approx_count_distinct`` (HLL)
  — exact distinct at 100 TB is a full shuffle of the key space;
- rollup/cube expand to grouping sets on the map side, still one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from yet_another_map_reduce_spark.localrel import local_relation


def rollup_agg(df: DataFrame, keys: list[str], aggs: list[Column], fill: str = "(all)") -> DataFrame:
    """GROUP BY ROLLUP with SUBTOTAL key levels set to ``fill``, decided
    by ``GROUPING(k)`` — not a blind COALESCE, which would also rewrite
    genuine NULL key VALUES and make a real NULL-country group
    indistinguishable from the grand total (any re-grouping on the key
    would then merge them into a wrong number).  Real NULL keys stay
    NULL; only subtotal markers become ``fill``."""
    out = df.rollup(*keys).agg(
        *aggs, *[F.grouping(k).alias(f"__g_{k}") for k in keys]
    )
    for k in keys:
        out = out.withColumn(
            k, F.when(F.col(f"__g_{k}") == 1, F.lit(fill)).otherwise(F.col(k))
        )
    return out.drop(*[f"__g_{k}" for k in keys])


def cube_agg(df: DataFrame, keys: list[str], aggs: list[Column], fill: str = "(all)") -> DataFrame:
    """GROUP BY CUBE — all 2^k grouping sets in one pass; subtotal
    levels marked via ``GROUPING`` exactly as :func:`rollup_agg`."""
    out = df.cube(*keys).agg(
        *aggs, *[F.grouping(k).alias(f"__g_{k}") for k in keys]
    )
    for k in keys:
        out = out.withColumn(
            k, F.when(F.col(f"__g_{k}") == 1, F.lit(fill)).otherwise(F.col(k))
        )
    return out.drop(*[f"__g_{k}" for k in keys])


def percentiles(df: DataFrame, keys: list[str], col: str, probs: list[float]) -> DataFrame:
    """Approximate percentiles (t-digest style) — mergeable sketches, the
    only sane percentile at scale.  Column ``pNN`` names come from
    ``round(p*100)`` with a collision guard: plain ``int()`` truncation
    mislabeled float-fuzzy probs (0.29 → 'p28') and silently produced
    DUPLICATE column names for sub-percent or >2-decimal probs."""
    names = [f"p{round(p * 100)}" for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"percentiles: probs {probs} collide at whole-percent "
            f"labels {names}; space them at least 1% apart or alias "
            "manually"
        )
    aggs = [
        F.percentile_approx(col, p).alias(n) for p, n in zip(probs, names)
    ]
    return df.groupBy(*keys).agg(*aggs)


def percentile_exact_dist(
    df: DataFrame, key: str, col: str, probs: list[float]
) -> DataFrame:
    """Exact interpolated percentiles per group, computed WITHOUT the
    single-reducer value-map merge of Spark's ``percentile`` aggregate.

    ``percentile(col, array(...))`` is an ObjectAggregate: every task
    builds a value→count map, and ONE reduce task per group merges all
    of them and sorts the full distinct-value set — a per-group memory
    ceiling and a serial merge that cannot parallelize (profiled r15:
    the merge stage was 3 tasks / 4.6 task-s at sf0.1; at 100 TB one
    task would buffer a group's whole value set).  This helper computes
    the SAME doubles with every stage either map-side-partial or
    bounded by the value DOMAIN, never the data size (guide §8: decide
    with small rows):

    1. histogram ``groupBy(key, floor(value))`` — partial agg, shuffle
       rows bounded by groups × integer-value domain;
    2. cumulative counts per group via a window over the *histogram*;
    3. per requested prob, locate the bucket(s) holding 0-based ranks
       ``floor/ceil(pos)``, ``pos = prob · (n−1)`` (a broadcast join
       against the histogram);
    4. re-scan ONLY rows in the needed buckets (broadcast join on the
       bucket id), rank within each tiny bucket, pick the exact order
       statistics;
    5. interpolate with the Percentile aggregate's own formula
       ``(hi − pos)·v_lo + (pos − lo)·v_hi`` — identical IEEE double
       operations, so the result is bit-identical (pinned by the
       property test against ``F.percentile`` itself).

    Contract / caveats (callers must hold these for exact equivalence):
    the helper is exact only for finite inputs.  Nulls are skipped (a
    group with ONLY nulls is dropped here, where ``percentile`` would
    emit NULL).  NaN is not skipped: Spark's ``floor(NaN)`` casts to
    long 0, so NaN rows land in bucket 0 beside the values in [0, 1),
    where ``percentile`` sorts NaN last.  The value domain must be wide
    enough that ``floor`` buckets stay small (true for 2-decimal prices;
    a domain inside [0,1) would put every row in one bucket).
    """
    v = F.col(col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(key).alias("__k"), v.alias("__v")
    )
    hist = base.groupBy("__k", F.floor("__v").alias("__b")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy("__k").orderBy("__b")
    cum = hist.select(
        "__k", "__b", "__c", F.sum("__c").over(w).alias("__cum")
    )
    n = hist.groupBy("__k").agg(F.sum("__c").alias("__n"))
    ranks = n.select(
        "__k",
        "__n",
        F.posexplode(
            F.array(*[F.lit(float(p)) for p in probs])
        ).alias("__pi", "__prob"),
    ).select(
        "__k",
        "__pi",
        "__prob",
        (F.col("__prob") * (F.col("__n") - F.lit(1)).cast("double")).alias(
            "__pos"
        ),
    )
    need = (
        ranks.withColumn("__lo", F.floor("__pos"))
        .withColumn("__hi", F.ceil("__pos"))
        .select(
            "__k",
            "__pi",
            "__pos",
            "__lo",
            "__hi",
            F.posexplode(F.array("__lo", "__hi")).alias("__side", "__r"),
        )
    )
    located = (
        cum.join(F.broadcast(need), "__k")
        .where(
            (F.col("__r") >= F.col("__cum") - F.col("__c"))
            & (F.col("__r") < F.col("__cum"))
        )
        .select(
            "__k",
            "__pi",
            "__pos",
            "__lo",
            "__hi",
            "__side",
            "__b",
            (F.col("__r") - (F.col("__cum") - F.col("__c"))).alias("__j"),
        )
    )
    buckets = located.select(
        F.col("__k").alias("__bk"), F.col("__b").alias("__nb")
    ).distinct()
    picked = base.join(
        F.broadcast(buckets),
        (F.col("__k") == F.col("__bk")) & (F.floor("__v") == F.col("__nb")),
    ).select("__k", "__v", "__nb")
    ranked = picked.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__k", "__nb").orderBy("__v")
        )
        - F.lit(1),
    )
    loc = located.select(
        F.col("__k").alias("__lk"),
        "__pi",
        "__pos",
        "__lo",
        "__hi",
        "__side",
        "__b",
        "__j",
    )
    hit = ranked.join(
        F.broadcast(loc),
        (F.col("__k") == F.col("__lk"))
        & (F.col("__nb") == F.col("__b"))
        & (F.col("__rn") == F.col("__j")),
    )
    res = hit.groupBy("__k", "__pi", "__pos", "__lo", "__hi").agg(
        F.max(F.when(F.col("__side") == 0, F.col("__v"))).alias("__vlo"),
        F.max(F.when(F.col("__side") == 1, F.col("__v"))).alias("__vhi"),
    )
    val = F.when(F.col("__lo") == F.col("__hi"), F.col("__vlo")).otherwise(
        (F.col("__hi").cast("double") - F.col("__pos")) * F.col("__vlo")
        + (F.col("__pos") - F.col("__lo").cast("double")) * F.col("__vhi")
    )
    return (
        res.select("__k", "__pi", val.alias("__val"))
        .groupBy("__k")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pi", "__val"))
            ).alias("__s")
        )
        .select(
            F.col("__k").alias(key),
            F.transform("__s", lambda s: s["__val"]).alias("__p"),
        )
    )


def hll_sketch_count(
    df: DataFrame, keys: list[str], col: str, alias: str = "distinct_est"
) -> DataFrame:
    """One-shot Apache DataSketches HLL distinct-count *estimate* (Spark 4
    ``hll_sketch_agg`` piped straight into ``hll_sketch_estimate``).
    When the sketch itself must survive for later merging, use
    :func:`hll_sketch_partials` instead."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(col)).alias(alias)
    )


def hll_sketch_partials(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Per-group reusable HLL sketches exposed as a *binary column*, so
    partial sketches from independent jobs (per-day, per-region) union
    losslessly via ``hll_union_agg`` (:func:`hll_merge`) —
    re-aggregation without re-scanning, the property that makes
    incremental 100 TB rollups possible."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col).alias("sketch"))


def hll_merge(partials: DataFrame, keys: list[str], alias: str = "distinct_est") -> DataFrame:
    """Merge previously materialized sketches to a coarser grouping."""
    return partials.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(alias)
    )


def histogram_fixed(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbuckets: int,
) -> DataFrame:
    """Fixed-width histogram: one row per non-empty bucket with count and
    value range.  Out-of-range values clamp into the edge buckets;
    NULL values are excluded (previously they surfaced as a spurious
    ``bucket=NULL`` row with NULL bounds, easily misread as data).

    The bucket index is plain ``floor((x - lo) / step)`` (not
    ``width_bucket``) so the exact same double expression runs in the
    SQL oracle; single shuffle with map-side partials, fully codegen'd.
    """
    if nbuckets < 1:
        raise ValueError(f"histogram_fixed: nbuckets must be >= 1, got {nbuckets}")
    if not hi > lo:
        raise ValueError(
            f"histogram_fixed: need hi > lo, got lo={lo} hi={hi} "
            "(step would be zero and every bucket NULL/divide-by-zero)"
        )
    df = df.where(F.col(col).isNotNull())
    step = (hi - lo) / nbuckets
    bucket = (
        F.least(
            F.greatest(F.floor((F.col(col) - F.lit(lo)) / F.lit(step)), F.lit(0)),
            F.lit(nbuckets - 1),
        )
        .cast("bigint")
        .alias("bucket")
    )
    return (
        df.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(col), 2).alias("lo_seen"),
            F.round(F.max(col), 2).alias("hi_seen"),
        )
        .withColumn("bucket_lo", F.round(F.col("bucket") * F.lit(step) + F.lit(lo), 2))
        .orderBy("bucket")
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality profile: one output row per column with row count,
    null count, and distinct count.

    One aggregate JOB with an exact ``countDistinct`` per column, which
    Spark plans with an Expand node replicating every input row
    ``len(cols)+1`` times before partial aggregation — exact answers,
    ~(k+1)× map-side volume.  Columns are addressed positionally (no
    name interpolation into SQL text), so names with quotes, spaces, or
    hyphens profile fine.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null_{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{i}"))
    row = df.agg(*aggs)
    per = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{i}").alias("n_nulls"),
            F.col(f"__dist_{i}").cast("bigint").alias("n_distinct"),
        )
        for i, c in enumerate(cols)
    ]
    return row.select(
        F.explode(F.array(*per)).alias("__p")
    ).select("__p.col_name", "__p.n_rows", "__p.n_nulls", "__p.n_distinct")


def _mg_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries in ONE linear scan: ≤k
    counter rows per partition plus one ``is_total`` row carrying the
    partition's row count (so callers that need n don't pay a second
    scan).  Null values are not counted, matching ``value_counts``."""
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        total = 0
        for pdf in batches:
            total += len(pdf)
            vc = pdf[col].value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {v: c - kth for v, c in counters.items() if c > kth}
        yield pd.DataFrame(
            {
                "item": list(counters) + [None],
                "weight": list(counters.values()) + [total],
                "is_total": [False] * len(counters) + [True],
            }
        )

    field = df.schema[col]
    return df.select(col).mapInPandas(
        mg, schema=f"item {field.dataType.simpleString()}, weight long, is_total boolean"
    )


def heavy_hitters_exact(df: DataFrame, col: str, k: int) -> DataFrame:
    """Two-pass exact heavy hitters: items with true count > n/(k+1).

    Pass 1 is the Misra-Gries candidate sketch (:func:`_mg_summaries`),
    whose mergeable-summaries guarantee makes the ≤k candidates a
    *superset* of every item with count > n/(k+1) under any
    partitioning; the same scan's ``is_total`` rows carry n, so the
    total is free.  Pass 2 exactly recounts only the candidates
    (broadcast semi-join) and filters on ``count·(k+1) > n`` — exact
    counts, so no false positives; the superset guarantee, so no false
    negatives.  The output therefore provably equals the full-group-by
    answer in exactly two linear scans, never shuffling the long-tailed
    raw column: the shuffles move ≤(partitions·(k+1)) summary rows, and
    the threshold join broadcasts a 1-row total.

    The merged summary (≤ partitions·(k+1) rows — KB-scale) is fetched
    to the driver once and re-enters pass 2 as literals: the same
    bounded "model fetch" pattern the ANN operators use for centroids,
    and the only way to guarantee a single physical pass-1 scan (two
    broadcast subqueries over the same subtree are NOT exchange-reused
    by Spark).
    """
    summary = (
        _mg_summaries(df, col, k)
        .groupBy("item", "is_total")
        .agg(F.sum("weight").alias("weight"))
        .collect()
    )
    n = sum(r["weight"] for r in summary if r["is_total"])
    cand_rows = sorted(
        ((r["weight"], r["item"]) for r in summary if not r["is_total"]),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    spark = df.sparkSession
    item_type = df.schema[col].dataType.simpleString()
    # namespaced candidate column: a df column named 'item' (including
    # col itself) would make the join condition and groupBy ambiguous
    cands = local_relation(
        spark, [(item,) for _, item in cand_rows], f"__item {item_type}"
    )
    return (
        df.join(F.broadcast(cands), df[col] == F.col("__item"), "inner")
        .groupBy("__item")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") * (k + 1) > F.lit(n))
        .select(F.col("__item").alias("item"), "count")
        .orderBy(F.col("count").desc(), F.col("item"))
    )
