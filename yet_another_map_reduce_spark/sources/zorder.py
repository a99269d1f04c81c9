"""Z-order (Morton-curve) clustered writes — multi-column data skipping.

The reference's sink is a flat ``part-*`` publication with no layout
control (``/root/reference/Worker/worker.py:210`` writes whatever
order the reducer emitted); at 100 TB, LAYOUT is a first-class operator:
parquet readers prune row groups and files by min/max statistics, and
those statistics are only tight if rows that are close in the filter
columns are close in the file.  Sorting clusters ONE column; Z-ordering
interleaves the bits of several columns' bucket ranks so locality is
shared across ALL of them — the Delta Lake ``OPTIMIZE ZORDER BY`` /
Databricks clustering recipe, built here from plain Spark relational
ops:

1. per column, a 2^bits-way bucket rank from the column's global
   min/max (one narrow aggregate pass, or caller-supplied bounds);
2. the Morton value: bit ``i`` of each column's bucket becomes bit
   ``i * ncols + c`` of the z-value (a closed-form integer expression
   — JVM-codegen'd, no UDF);
3. ``repartitionByRange`` on the z-value (one skew-aware range
   shuffle: contiguous z-ranges -> contiguous files) +
   ``sortWithinPartitions`` -> write.

Everything is expression-level: the same generated arithmetic runs as
a Spark ``F.expr`` and as the DuckDB oracle SQL (queries.py
``zorder_values``), so the z-math itself is hash-verified.

Layering vs ``functions.zorder_key``: that is the Column-combinator
form of the SAME interleave for callers who already hold bucket ranks
as arbitrary Spark Columns; :func:`zorder_sql` is the portable-SQL
generator (bucketing included) that an oracle can replay verbatim.
``tests/test_plans.py::test_zorder_sql_agrees_with_zorder_key`` pins
the two bit-for-bit so a fix to one cannot silently miss the other.

Choosing ``bits``: 8 bits/column keeps the z-value in an int64 for up
to 7 columns and gives 256 buckets/column — files each end up covering
~1/256 of every clustered column's range at large file counts, which
is the skipping payoff measured in
``tests/test_plans.py::test_zorder_write_tightens_per_file_ranges``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def zorder_sql(cols: list[str], bounds: dict[str, tuple[str, str]], bits: int = 8) -> str:
    """The z-value as ONE portable SQL expression (ANSI integer/bit
    arithmetic, parseable by both Spark and DuckDB — hash parity for
    the whole construction).

    ``bounds[col] = (min_sql, max_sql)``: SQL fragments for the
    column's lower/upper bound — literals, or references to an
    aggregated CTE's columns.  NULLs and degenerate ranges land in
    bucket 0 (NULL-first semantics, matching a plain sort's default).
    """
    if not 1 <= len(cols) <= 7:
        raise ValueError("zorder supports 1-7 columns (bits*ncols <= 63)")
    n = len(cols)
    terms = []
    for c_idx, col in enumerate(cols):
        mn, mx = bounds[col]
        span = f"(CAST({mx} AS DOUBLE) - CAST({mn} AS DOUBLE))"
        frac = (
            f"(CAST({col} AS DOUBLE) - CAST({mn} AS DOUBLE)) / {span}"
        )
        # clamp BOTH sides: with caller-supplied bounds (yesterday's
        # min/max on a growing table) out-of-range values must saturate
        # at the edge buckets — a negative bucket's sign bits would
        # scatter the row to a garbage z-value and blow up that file's
        # min/max span on every clustered column
        bucket = (
            f"(CASE WHEN {col} IS NULL OR {span} <= CAST(0 AS DOUBLE) THEN 0 "
            f"ELSE greatest(0, least({2 ** bits - 1}, "
            f"CAST(floor({frac} * {2 ** bits}) AS BIGINT))) "
            f"END)"
        )
        for i in range(bits):
            terms.append(f"((({bucket} >> {i}) & 1) << {i * n + c_idx})")
    return "(" + " + ".join(terms) + ")"


def zorder_value(df: DataFrame, cols: list[str], bits: int = 8):
    """The z-value as a Spark Column over ``df``, bucketed on the
    columns' global min/max from one narrow aggregate (driver fetches 2
    scalars per column — model-sized, the documented collect bound)."""
    row = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]

    def bound(v: float | None) -> str:
        # an all-NULL column (or empty df) aggregates to None: substitute
        # a degenerate (0, 0) range so zorder_sql's span<=0 branch sends
        # every row to bucket 0 — the NULL-first semantics it already
        # defines — instead of an opaque TypeError (r11 ADVICE)
        return repr(float(v if v is not None else 0.0))

    sql_bounds = {c: (bound(row[f"mn_{c}"]), bound(row[f"mx_{c}"])) for c in cols}
    return F.expr(zorder_sql(cols, sql_bounds, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    num_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on the Morton curve of
    ``zorder_cols``: one range shuffle on the z-value (range
    partitioning keeps z-contiguity ACROSS files, so file-level min/max
    prune; a hash repartition would only help row groups), an
    in-partition sort (row-group-level stats), then the z-value column
    is dropped before the bytes land."""
    z = zorder_value(df, zorder_cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def file_range_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max SPAN of each column, normalized by the global
    span — the data-skipping potential of a layout, queryable without
    parquet-footer spelunking: a pruning reader skips a file whose
    [min, max] misses the predicate, so the average normalized span IS
    the expected fraction of files read for a point/short-range filter.
    ~0 = perfectly clustered, ~1 = every file covers the whole range
    (no skipping possible)."""
    df = spark.read.parquet(path).withColumn(
        "__file", F.input_file_name()
    )
    per_file = df.groupBy("__file").agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    )
    glob = df.agg(
        *[F.min(c).cast("double").alias(f"gmn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"gmx_{c}") for c in cols],
    )
    out = per_file.crossJoin(F.broadcast(glob))
    for c in cols:
        out = out.withColumn(
            f"span_{c}",
            (F.col(f"mx_{c}") - F.col(f"mn_{c}"))
            / (F.col(f"gmx_{c}") - F.col(f"gmn_{c}")),
        )
    return out.select("__file", *[f"span_{c}" for c in cols])
