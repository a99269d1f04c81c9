"""Plan introspection utilities — the feedback loop for scale hygiene.

The reference has no plan representation at all (SURVEY.md §3: the
"plan" is a hardcoded phase sequence).  Here Catalyst owns planning; these
helpers make its choices *checkable in tests* so regressions like a lost
filter-pushdown or an accidental cartesian product fail CI instead of
melting a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The physical plan as text (explain mode 'formatted')."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the scan node carries PushedFilters containing each
    fragment — i.e. the predicate reached parquet, not a post-scan
    Filter over full row-groups."""
    plan = formatted_plan(df)
    if "PushedFilters" not in plan:
        raise AssertionError(f"no PushedFilters in plan:\n{plan}")
    for frag in fragments:
        if frag not in plan:
            raise AssertionError(f"expected pushed filter {frag!r} not in plan:\n{plan}")


def assert_pruned_columns(df: DataFrame, max_cols: int) -> None:
    """Assert the parquet ReadSchema projects at most ``max_cols``
    columns (column pruning reached the scan)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema_part = line.split("ReadSchema:", 1)[1]
            ncols = schema_part.count(":")
            if ncols > max_cols:
                raise AssertionError(
                    f"scan reads {ncols} columns, expected <= {max_cols}: {line.strip()}"
                )
            return
    raise AssertionError(f"no ReadSchema found in plan:\n{plan}")


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan — the
    scale-cost headline.  Use in tests: assert an op has exactly the
    shuffles its algorithm needs and no more."""
    import re

    plan = formatted_plan(df)
    # count node-detail headers "(N) Exchange" only — each node also
    # appears once in the tree summary, which would double-count
    return len(re.findall(r"^\(\d+\) Exchange$", plan, flags=re.MULTILINE))


def uses_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def whole_stage_codegen_ids(df: DataFrame) -> int:
    """How many WholeStageCodegen subtrees the plan compiles — wider
    spans = fewer virtual-call boundaries.  0 means the hot path fell
    out of codegen (e.g. a Python UDF snuck in).

    Uses explain mode 'codegen': AQE's formatted plan hides codegen
    markers until execution."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    return int(m.group(1)) if m else 0


def codegen_compiles(spark) -> tuple[int, float]:
    """Generated classes compiled so far in this JVM, and their total
    compile milliseconds: Spark's ``CodegenMetrics`` compilation count
    and ``CodeGenerator.compileTime``.  Diff two readings around a
    query.  Only codegen-cache misses compile, so a re-run plan whose
    classes are all still cached adds 0."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def observe_metrics(df: DataFrame, name: str, **metric_exprs):
    """Attach named aggregate metrics to a plan via ``Observation`` —
    counters computed *during* the action that consumes ``df``, with
    zero extra passes over the data.

    At 100 TB a separate ``df.count()`` / null-audit query doubles the
    scan cost; ``observe`` piggybacks the accumulation on the job that
    was running anyway (the same trick Structured Streaming uses for
    progress metrics).

    Returns ``(observed_df, observation)``; read ``observation.get``
    AFTER an action on ``observed_df``.

    Example::

        df2, obs = observe_metrics(df, "ingest",
                                   rows=F.count(F.lit(1)),
                                   null_ids=F.count_if(F.col("id").isNull()))
        df2.write.parquet(path)
        obs.get  # {'rows': ..., 'null_ids': ...}
    """
    from pyspark.sql import Observation

    observation = Observation(name)
    exprs = [expr.alias(alias) for alias, expr in metric_exprs.items()]
    return df.observe(observation, *exprs), observation
