"""Query registry: every operator from SURVEY.md §2 as a named query with
a DuckDB oracle.

Each ``q_*`` function takes ``(spark, sf_dir)`` and returns a DataFrame;
``ORACLES[name]`` is the ANSI-SQL equivalent DuckDB runs on the same
parquet tables.  Parity rules (SURVEY.md §7 "oracle-parity traps"):

- every computed column is aliased identically on both sides;
- computed integers are cast to BIGINT on both sides (Spark ``size``/
  ``rank`` yield int32, DuckDB ``len``/``count`` yield int64);
- float aggregates are ROUNDed identically on both sides (double
  accumulation order differs across engines);
- hashing uses the md5-prefix scheme from ``functions.md5_hash64`` —
  bit-identical in both engines;
- timestamps stay naive (session TZ pinned to UTC in session.py);
- fractional literals mixed into double arithmetic are written
  ``CAST(0.3 AS DOUBLE)`` in oracle SQL — DuckDB parses bare ``0.3``
  as exact DECIMAL and the whole expression takes the decimal path,
  drifting from Spark/NumPy float64 (bit-for-bit demo: timeseries_ewma).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.functions import md5_hash64, normalize_text
from yet_another_map_reduce_spark.operators import (
    aggregates,
    classify,
    dedup,
    joins,
    similarity,
    sorts,
    text,
    timeseries,
    upsert,
    windows,
)
from yet_another_map_reduce_spark.sources.readers import read_table
from yet_another_map_reduce_spark.caching import data_version, tracked_cache, trained
from yet_another_map_reduce_spark.localrel import local_relation
from yet_another_map_reduce_spark.partitioning import spread_small
from yet_another_map_reduce_spark.streaming.windows import (
    session_windowed,
    sliding_windowed,
    tumbling_windowed,
)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB side)
# ---------------------------------------------------------------------------


def _must_replace(sql: str, old: str, new: str, count: int = 1) -> str:
    """``str.replace`` for DERIVED oracles that fails loudly.

    Several oracles are built by splicing a fragment into another
    oracle's text; a silent no-op (the base SQL was reformatted and the
    exact substring no longer matches) would leave the derived oracle
    with the BASE query's semantics, surfacing only as a confusing
    driver hash mismatch rounds later.  Raising at import time turns
    that into an immediate, attributable error.
    """
    if old not in sql:
        raise AssertionError(
            f"derived-oracle splice target not found; the base oracle "
            f"was reformatted — update the splice. Missing fragment: "
            f"{old[:120]!r}"
        )
    return sql.replace(old, new, count)


#: normalized text — must mirror functions.normalize_text exactly
_NORM = r"trim(regexp_replace(lower({c}), '\s+', ' ', 'g'))"


def _norm(c: str) -> str:
    return _NORM.format(c=c)


def _sql_word_grams(n: int, toks: str = "w") -> str:
    """DuckDB twin of functions.shingles: word n-gram list from a token
    list column (duckdb list slicing is 1-based inclusive)."""
    if n == 1:
        return toks
    return (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )


def _plant_short_docs(d: DataFrame) -> DataFrame:
    """Deterministically truncate a slice of the corpus to SHORT docs
    (doc_id % 50 == 3 → first token only; % 50 == 7 → empty string) so
    the short-doc zero-count contract of the curation reports
    (decontaminate / boilerplate / bigram-LM emitting explicit zero
    rows instead of omitting the doc) is exercised by the live oracle
    gate — the fixture's natural minimum is 10 tokens, which would
    leave the contract invisible to the hash.  SQL twin:
    :data:`_SQL_PLANTED_DOCS`."""
    from yet_another_map_reduce_spark.functions import tokens

    toks = tokens(F.col("text"))
    return d.withColumn(
        "text",
        F.when(F.col("doc_id") % 50 == 3, F.array_join(F.slice(toks, 1, 1), ""))
        .when(F.col("doc_id") % 50 == 7, F.lit(""))
        .otherwise(F.col("text")),
    )


#: DuckDB twin of :func:`_plant_short_docs` — a derived table usable as
#: the ``src`` of the curation-report oracle builders below.
_SQL_PLANTED_DOCS = f"""(
    SELECT doc_id,
           CASE WHEN doc_id % 50 = 3
                    THEN (string_split({_norm('text')}, ' '))[1]
                WHEN doc_id % 50 = 7 THEN ''
                ELSE text END AS text
    FROM documents
) AS __planted"""


def _decontaminate_oracle(src: str = "documents") -> str:
    """Oracle for ``text.decontaminate`` over ``src``: EVERY train doc
    surfaces (zero-count row when it has no 4-gram), mirroring the
    operator's short-doc contract."""
    return f"""
        WITH docs AS (SELECT doc_id, string_split({_norm('text')}, ' ') AS w
                      FROM {src}),
        dg AS (
            SELECT DISTINCT doc_id, u.g FROM (
                SELECT doc_id, unnest({_sql_word_grams(4)}) AS g
                FROM docs WHERE len(w) >= 4) u
        ),
        hold AS (SELECT DISTINCT g FROM dg WHERE doc_id % 10 = 0),
        train AS (SELECT * FROM dg WHERE doc_id % 10 <> 0),
        base AS (SELECT doc_id FROM docs WHERE doc_id % 10 <> 0),
        t AS (SELECT doc_id, count(*) AS total FROM train GROUP BY doc_id),
        m AS (SELECT doc_id, count(*) AS matched
              FROM train JOIN hold USING (g) GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(coalesce(total, 0) AS BIGINT) AS total_ngrams,
               CAST(coalesce(matched, 0) AS BIGINT) AS matched_ngrams,
               round(coalesce(matched, 0) * 1.0
                     / greatest(coalesce(total, 0), 1), 6) AS contamination,
               coalesce(matched, 0) * 1.0
                     / greatest(coalesce(total, 0), 1) > 0.01
                   AS is_contaminated
        FROM base b LEFT JOIN t USING (doc_id) LEFT JOIN m USING (doc_id)
        ORDER BY b.doc_id
    """


def _boilerplate_oracle(src: str = "documents") -> str:
    """Oracle for ``text.boilerplate_ngram_stats`` over ``src`` with
    the same every-doc-surfaces contract (zero-count rows keep)."""
    return f"""
        WITH docs AS (SELECT doc_id, string_split({_norm('text')}, ' ') AS w
                      FROM {src}),
        g5 AS (
            SELECT doc_id, u.g FROM (
                SELECT doc_id, unnest({_sql_word_grams(5)}) AS g
                FROM docs WHERE len(w) >= 5) u
        ),
        dfq AS (SELECT g, count(*) AS gram_df
                FROM (SELECT DISTINCT doc_id, g FROM g5) GROUP BY g),
        j AS (SELECT doc_id, count(*) AS total,
                     sum(CASE WHEN gram_df > 2 THEN 1 ELSE 0 END) AS bp
              FROM g5 JOIN dfq USING (g) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(total, 0) AS BIGINT) AS total_ngrams,
               CAST(coalesce(bp, 0) AS BIGINT) AS boilerplate_ngrams,
               round(coalesce(bp, 0) * 1.0
                     / greatest(coalesce(total, 0), 1), 6) AS boilerplate_frac,
               coalesce(bp, 0) * 1.0
                     / greatest(coalesce(total, 0), 1) <= 0.05 AS keep
        FROM (SELECT doc_id FROM docs) d LEFT JOIN j USING (doc_id)
        ORDER BY d.doc_id
    """


def _bigram_lm_oracle(src: str = "documents") -> str:
    """Oracle for ``text.bigram_lm_score`` over ``src``: zero-bigram
    docs surface with ``n_bigrams=0, NULL avg_logprob, NULL lm_bucket``
    and never enter the tercile ranking."""
    norm = _NORM.format(c="text")
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split({norm}, ' ') AS t FROM {src}),
        tok AS (
            SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
            FROM toks),
        big AS (
            SELECT doc_id, tok AS prev,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
            FROM tok),
        bg AS (SELECT * FROM big WHERE cur IS NOT NULL),
        db AS (SELECT doc_id, prev, cur, count(*) AS m
               FROM bg GROUP BY doc_id, prev, cur),
        bc AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY prev, cur),
        pc AS (SELECT prev, sum(cb) AS cp FROM bc GROUP BY prev),
        v AS (SELECT count(DISTINCT tok) AS vs FROM tok),
        term AS (
            SELECT d.doc_id, d.m,
                   d.m * ln((bc.cb + CAST(0.5 AS DOUBLE)) / (pc.cp + CAST(0.5 AS DOUBLE) * v.vs)) AS lp
            FROM db d
            JOIN bc ON d.prev = bc.prev AND d.cur = bc.cur
            JOIN pc ON d.prev = pc.prev
            CROSS JOIN v),
        doc AS (
            SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
                   round(sum(lp) / sum(m), 6) AS avg_logprob
            FROM term GROUP BY doc_id),
        r AS (
            SELECT *, percent_rank() OVER (ORDER BY avg_logprob DESC, doc_id ASC) AS pr
            FROM doc)
        SELECT doc_id, n_bigrams, avg_logprob,
               CASE WHEN pr < CAST(1.0 AS DOUBLE)/3 THEN 'head'
                    WHEN pr < CAST(2.0 AS DOUBLE)/3 THEN 'middle'
                    ELSE 'tail' END AS lm_bucket
        FROM r
        UNION ALL
        SELECT t.doc_id, CAST(0 AS BIGINT) AS n_bigrams,
               CAST(NULL AS DOUBLE) AS avg_logprob,
               CAST(NULL AS VARCHAR) AS lm_bucket
        FROM toks t LEFT JOIN doc USING (doc_id)
        WHERE doc.doc_id IS NULL
    """


def _sql_hash64(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of functions.md5_hash64."""
    inner = f"'{seed}:' || {expr}" if seed is not None else expr
    return f"('0x' || substr(md5({inner}), 1, 15))::BIGINT"


# ===========================================================================
# core relational queries
# ===========================================================================


def q_flagship_max_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's golden query (max cost per location,
    ``/root/reference/reducer.py:16-40``) transposed to driver tables:
    max extended price per return flag."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.max("l_extendedprice"), 2).alias("max_price"))
        .orderBy("l_returnflag")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan → filter → hash agg with
    automatic partial aggregation (the map-side combine the reference
    lacks, SURVEY.md §4.1)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection — both must reach the parquet scan
    (asserted in tests/test_plans.py)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") <= 0.02)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar surface over orders."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("status_prio"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        # floor-based instead of round: round(x, n) at representation
        # boundaries differs between BigDecimal (Spark) and
        # multiply-round (DuckDB); floor of the same double is identical
        (F.floor(F.col("o_totalprice") * 10) / 100).alias("tithe"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_bucket"),
        (F.col("o_orderkey") % 97).alias("key_mod"),
        F.abs(F.col("o_totalprice") - 1000.0).alias("abs_delta"),
    )


def q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — planned as TakeOrderedAndProject, not a full sort:
    each partition keeps k rows, the driver merges k·P rows."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---- joins ----------------------------------------------------------------


def q_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join (dim side forced map-side) + agg."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), on=[F.col("o_custkey") == F.col("c_custkey")])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy("c_mktsegment")
    )


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join (fact ⋈ fact ⋈ dims) with region filter — the
    filter is pushed through the join chain by Catalyst; dims broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("n_name")
    )


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one finished order (EXISTS)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no pending orders (NOT EXISTS)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, on=[F.col("c_custkey") == F.col("o_custkey")], how="left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via bucketed range_join (no cross product):
    lineitem quantity ∈ [p_size, p_size+4]."""
    # Pre-aggregate the probe side first: l_quantity has ~50 distinct
    # values, so the range join runs on 50 weighted rows instead of the
    # raw fact table, and the would-be ~25M-row join output collapses to
    # ~10k. Result-identical (counts/sums recovered from the weights) —
    # the canonical "shrink before you explode" rewrite for banded joins.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_quantity")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    p = read_table(spark, sf_dir, "part").where(F.col("p_size") <= 10).select(
        "p_partkey",
        "p_brand",
        F.col("p_size").cast("double").alias("size_lo"),
        (F.col("p_size") + 4).cast("double").alias("size_hi"),
    )
    matched = joins.range_join(li, p, "l_quantity", "size_lo", "size_hi", bucket_width=5.0)
    return (
        matched.groupBy("p_brand")
        .agg(
            F.sum("__cnt").alias("n_matches"),
            F.round(F.sum(F.col("l_quantity") * F.col("__cnt")), 2).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event paired with the user's most
    recent signup at-or-before it (union + single sort-shuffle; DuckDB's
    native ASOF JOIN is the oracle)."""
    e = read_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts"), F.col("value").alias("signup_value")
    )
    return joins.asof_join(
        purchases,
        signups,
        on="user_id",
        left_time="ts",
        right_time="signup_ts",
        right_values=["signup_ts", "signup_value"],
    )


# ---- aggregations ---------------------------------------------------------


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return aggregates.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return aggregates.cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("yamr_gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '(all)') AS rf,
               coalesce(l_linestatus, '(all)') AS ls,
               round(sum(l_quantity), 2) AS sum_qty
        FROM yamr_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + interpolated quartiles (mergeable sketch variants
    live in aggregates.percentiles for the 100 TB path)."""
    li = read_table(spark, sf_dir, "lineitem")
    # distributed exact order statistics: bit-identical to
    # percentile(col, array(0.25, 0.5, 0.75)) but with no single-reducer
    # value-map merge (see aggregates.percentile_exact_dist; parity
    # pinned by test_percentile_exact_dist_bit_identical)
    return (
        aggregates.percentile_exact_dist(
            li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75]
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("__p", 2), 4).alias("median_price"),
            F.round(F.element_at("__p", 1), 4).alias("p25_price"),
            F.round(F.element_at("__p", 3), 4).alias("p75_price"),
        )
        .orderBy("l_returnflag")
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "l_linestatus",
        F.coalesce(F.col("A"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.col("N"), F.lit(0)).cast("bigint").alias("n_n"),
        F.coalesce(F.col("R"), F.lit(0)).cast("bigint").alias("n_r"),
    ).orderBy("l_linestatus")


# ---- windows --------------------------------------------------------------


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide metric columns → (metric, value) rows."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax").unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame window: peers counted by value distance, not rows —
    tie-independent by construction.  Partitioned by (custkey, status):
    a bounded key — a status alone has 3 values, so its partitions are
    data-sized at scale (the skew class grouped_ranked exists for; a
    demo query shouldn't model it)."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey", "o_orderstatus")
        .orderBy(F.col("o_totalprice").asc())
        .rangeBetween(-1000, 0)  # int offsets only in the PySpark API
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_within_1k"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("sum_within_1k"),
    )


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc())
    ranked = li.select("l_orderkey", "l_linenumber", "l_extendedprice").withColumn(
        "price_rank", F.rank().over(w)
    )
    return ranked.withColumn("price_rank", F.col("price_rank").cast("bigint"))


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return windows.top_k_per_group(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        partition_by=["l_orderkey"],
        order_by=[F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()],
        k=3,
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    run = windows.running(
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        agg_col=F.sum("o_totalprice"),
        alias="running_spend",
    )
    return run.withColumn("running_spend", F.round("running_spend", 2))


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice").withColumn(
        "prev_totalprice", F.lag("o_totalprice", 1).over(w)
    )


# ---- set ops --------------------------------------------------------------


def _status_custkeys(spark: SparkSession, sf_dir: str, status: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderstatus") == status).select(F.col("o_custkey").alias("custkey"))


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _status_custkeys(spark, sf_dir, "O")
        .unionByName(_status_custkeys(spark, sf_dir, "F"))
        .distinct()
    )


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _status_custkeys(spark, sf_dir, "O").intersect(
        _status_custkeys(spark, sf_dir, "F")
    )


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _status_custkeys(spark, sf_dir, "O").subtract(
        _status_custkeys(spark, sf_dir, "F")
    )


# ---- array / JSON ---------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    ).where(F.col("k_val") >= 50)


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split → explode → count → top-20: the wordcount shape, DataFrame
    edition."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(normalize_text("text"), " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


def q_rdd_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce job on the RDD compat path: flatMap →
    reduceByKey (map-side combine included, unlike the reference's
    shuffle-everything dataflow, ``/root/reference/Worker/worker.py:120-127``)."""
    d = read_table(spark, sf_dir, "documents")

    def tokenize(row) -> list[tuple[str, int]]:
        norm = re.sub(r"\s+", " ", row["text"].lower()).strip()
        return [(t, 1) for t in norm.split(" ")]

    counts = d.select("text").rdd.flatMap(tokenize).reduceByKey(lambda a, b: a + b)
    return spark.createDataFrame(counts, "token string, cnt bigint")


def q_df_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idiomatic-DataFrame twin of ``rdd_wordcount``: the same
    normalize → split → count, as explode + groupBy — whole-stage
    codegen, Tungsten hash aggregation, zero Python in the hot path.
    Registered separately so the perf delta between the RDD fidelity
    layer and the idiomatic layer is a measured bench row, not an
    assertion.  Identical results (same oracle replay)."""
    d = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.select(F.explode(F.split(norm, " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---- event-time windows (batch mode; same code path as streaming) ---------


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    out = tumbling_windowed(
        e,
        ts_col="ts",
        width="1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    )
    return out.select("window_start", "event_type", "n", "sum_value")


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    out = sliding_windowed(
        e,
        ts_col="ts",
        width="1 hour",
        slide="30 minutes",
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    return out.select("window_start", "event_type", "n")


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    out = session_windowed(
        e,
        ts_col="ts",
        gap="2 hours",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
    )
    return out.select("user_id", "session_start", "session_end", "n_events", "sum_value")


# ---- more TPC-H-shaped queries --------------------------------------------


def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+agg — the pushdown showcase
    (every predicate reaches the parquet scan)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, group, global top-10 by revenue."""
    c = read_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---- more window functions ------------------------------------------------


def q_window_rank_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a deterministic total
    order, partitioned by (custkey, status) — bounded partitions at any
    scale (a 3-value status key alone would put a third of the table in
    one window task)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_spend"),
        F.last("o_totalprice").over(w_full).alias("last_spend"),
    )


# ---- UDF / UDAF / UDTF surface --------------------------------------------


def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (net price)."""
    from yet_another_map_reduce_spark.operators import udxf

    li = read_table(spark, sf_dir, "lineitem")
    return udxf.with_discounted_price(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
        "l_extendedprice",
        "l_discount",
        "net_price",
    )


def q_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped UDAF via applyInPandas: quantity-weighted avg price."""
    from yet_another_map_reduce_spark.operators import udxf

    li = read_table(spark, sf_dir, "lineitem")
    out = udxf.grouped_weighted_avg(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", alias="wavg_price"
    )
    return out.withColumn("wavg_price", F.round("wavg_price", 4))


def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (1 doc row → N token rows) via LATERAL join."""
    from yet_another_map_reduce_spark.operators import udxf

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    out = udxf.token_explode_udtf(d, "text", "doc_id")
    return out.withColumn("pos", F.col("pos").cast("int"))


def q_udf_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas partition-streaming UDF."""
    from yet_another_map_reduce_spark.operators import udxf

    li = read_table(spark, sf_dir, "lineitem")
    return udxf.mapinpandas_batch_stats(li, ["l_quantity", "l_discount", "l_tax"])


# ---- SQL surface: correlated subquery + CTE -------------------------------


def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into a
    join+agg (the reference has no subqueries at all, SURVEY.md §4.1)."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("yamr_sq_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM yamr_sq_customer c
        WHERE c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM yamr_sq_customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


def q_sql_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-clause pipeline through the SQL surface."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("yamr_cte_orders")
    return spark.sql(
        """
        WITH big AS (
            SELECT o_custkey, o_totalprice FROM yamr_cte_orders
            WHERE o_totalprice > 100000
        ),
        per_cust AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big,
                   round(sum(o_totalprice), 2) AS total_big
            FROM big GROUP BY o_custkey
        )
        SELECT * FROM per_cust WHERE n_big >= 2
        """
    )


# ---- skew mitigation ------------------------------------------------------


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frequency skew diagnostic (the lookahead before salting):
    the 10 heaviest event users with row counts and corpus share, count
    ties broken on the key so the top-k boundary is deterministic."""
    from yet_another_map_reduce_spark.operators import skew

    e = read_table(spark, sf_dir, "events")
    return skew.skew_stats(e, "user_id", top=10)


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — lineitem has only 3 return-flag
    groups, the textbook hot-key layout; result is identical to the
    plain groupBy (the oracle)."""
    from yet_another_map_reduce_spark.operators import skew

    li = read_table(spark, sf_dir, "lineitem")
    out = skew.salted_group_agg(
        li,
        keys=["l_returnflag"],
        aggs=[
            ("l_quantity", "sum", "sum_qty"),
            ("l_orderkey", "count", "n_rows"),
            ("l_extendedprice", "max", "max_price"),
        ],
        salt_col="l_orderkey",
        salt=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("n_rows"),
        F.col("max_price"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicated salted join — result-identical to the plain join.
    ``salt_col`` is a row-varying column (l_linenumber), NOT the join
    key: a key-derived salt is constant within each hot key and
    spreads nothing (the r15 review's silent-no-op finding; the
    operator now rejects that case outright)."""
    from yet_another_map_reduce_spark.operators import skew

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = skew.salted_join(
        li, o, big_key="l_orderkey", small_key="o_orderkey", salt_col="l_linenumber", salt=8
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


# ---- map / JSON struct parsing --------------------------------------------


def q_json_from_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct + map_keys over a built map —
    the schema-full JSON path (vs. get_json_object's stringly path)."""
    e = read_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "k int").alias("p"),
        F.create_map(F.lit("type"), F.col("event_type")).alias("m"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").cast("bigint").alias("k_val"),
        F.map_keys("m").getItem(0).alias("first_key"),
        F.element_at("m", "type").alias("type_val"),
    )


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct VERIFIED against the exact count.  The
    estimate itself is engine-specific, so the query emits the exact
    per-group distinct count plus a boolean pinning the estimate inside
    3× the configured rsd (5% → 15% band); HLL++ registers are a pure
    function of the value set, so the boolean is partitioning-
    independent.  The oracle recomputes the exact count and emits
    literal TRUE — a green hash certifies the sketch's error bound
    (upgraded from rows-only)."""
    li = read_table(spark, sf_dir, "lineitem")
    est = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.05).alias("approx_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "n_parts",
            (
                F.abs(F.col("approx_parts") - F.col("n_parts"))
                <= 0.15 * F.col("n_parts")
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


# ---- array functions ------------------------------------------------------


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 3).alias("third"),
        F.array_max("embedding").alias("vmax"),
        F.array_min("embedding").alias("vmin"),
    )


# ===========================================================================
# pipeline extensions: dedup / text / similarity / multimodal
# ===========================================================================


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at 10-token chunk granularity: first corpus
    occurrence of each chunk wins, documents are reassembled from their
    surviving chunks.  Hash-verified — the oracle replays tokenization,
    chunking, first-occurrence selection, and reassembly in ANSI SQL."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup(d, "text", "doc_id", chunk_tokens=10)


def q_dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022): maximal duplicated
    token spans via positional 8-gram hashing, summarized per document
    (span count, duplicated-token total, longest span).  The oracle
    replays shingling, corpus-duplicate detection, and the
    gaps-and-islands span merge in ANSI SQL."""
    d = read_table(spark, sf_dir, "documents")
    spans = dedup.duplicated_spans(d, "text", "doc_id", k=8)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
            F.max("span_tokens").cast("bigint").alias("max_span"),
        )
        .orderBy("doc_id")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return text.text_stats(d, "text", "doc_id")


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over synthetic strings injected into doc text (the
    corpus itself has no PII, so the query plants one marker per doc)."""
    d = read_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 re: "),
            F.col("text"),
        ).alias("raw"),
    )
    return seeded.select("doc_id", text.redact_pii("raw").alias("clean"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the highest-quality copy per duplicate class (here every
    class is a singleton — the policy still must pick deterministically)."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.withColumn("q", text.quality_score("text"))
    # narrow payload: the fingerprint exchange carries (doc_id, q)
    # candidates only — document text never shuffles
    return dedup.keep_best_dedup(
        scored, "text", "doc_id", "q", payload_cols=["doc_id", "q"]
    )


def q_fuzzy_match_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: a deterministically 'dirtied'
    copy of the supplier names (1-char substitution / insertion by key
    class) is matched back to the clean registry — blocked equi-join
    first, levenshtein <= 1 verification second, so the plan is
    candidate-generation + verify (never an unblocked n² cross join).

    The block key is the identifier's LAST 6 digits (positions 13-18
    of 'Supplier#nnnnnnnnn') — a shared-prefix corpus makes any prefix
    key one hot block, the exact skew this repo's salting/LSH ops
    exist to avoid, while the low-order digits are near-uniform, so
    blocks stay bounded (~N/10⁶ names share a key) as the registry
    grows.  Both dirt classes (substituted digit 3 / appended 'Q')
    leave positions 13-18 intact, so every true pair is co-blocked and
    its clean partner is the unique distance-1 candidate in the block.
    Like all blocked ER, pairs differing inside the block key are
    unrecallable by design; real corpora run multiple blocking passes
    (phonetic, sorted-neighborhood) to cover them.

    The match side is the registry's DISTINCT names (min-key
    representative, a partial-agg groupBy): identical registry rows are
    one entity, so k copies of a name cost one candidate, not k.  The
    100× sweep caught the un-deduped form at 370× — the replica's 100
    verbatim name copies made candidates AND output grow ∝ copies²;
    with the entity dedup both stay linear in the dirty side.  On a
    duplicate-free registry the dedup is a no-op (same output)."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    entities = s.groupBy("s_name").agg(F.min("s_suppkey").alias("s_suppkey"))
    dirty = s.select(
        F.col("s_suppkey").alias("d_id"),
        F.when(
            F.col("s_suppkey") % 3 == 0,
            F.concat(
                F.expr("substring(s_name, 1, 11)"),
                F.lit("X"),
                F.expr("substring(s_name, 13)"),
            ),
        )
        .when(F.col("s_suppkey") % 3 == 1, F.concat(F.col("s_name"), F.lit("Q")))
        .otherwise(F.col("s_name"))
        .alias("d_name"),
    )
    block = lambda c: F.substring(c, 13, 6)  # noqa: E731
    cand = dirty.join(entities, block(F.col("d_name")) == block(F.col("s_name")))
    return (
        cand.withColumn("dist", F.levenshtein("d_name", "s_name"))
        .where(F.col("dist") <= 1)
        .select("d_id", F.col("s_suppkey").alias("matched_id"),
                "d_name", "s_name", F.col("dist").cast("bigint").alias("dist"))
        .orderBy("d_id", "matched_id")
    )


def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar surface: try_divide / try_cast return NULL on
    failure instead of killing a 1000-executor job at the 99.999th
    percentile row — the ingestion posture for dirty data."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias("unit_price"),
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity"))
            .alias("div_by_zero"),
        F.expr("try_cast(l_returnflag AS INT)").alias("flag_as_int"),
        F.expr("try_cast(cast(l_orderkey AS STRING) AS BIGINT)").alias("roundtrip_key"),
    ).orderBy("l_orderkey", "l_linenumber")


def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL sugar (Spark 4 + DuckDB share the
    syntax): group keys inferred from the non-aggregate select items."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__gba_lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice), 2) AS revenue
        FROM __gba_lineitem
        GROUP BY ALL ORDER BY ALL
    """)


def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk a binary-tree parent
    relation over supplier keys (parent(k) = floor(k/2)) from the two
    roots down, emitting root and depth per node — the org-chart /
    bill-of-materials traversal shape.  Identical ANSI text runs on the
    oracle.  Depth is O(log max_key), so the iterative plan stays
    shallow at any corpus size."""
    read_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "__rcte_supplier"
    )
    return spark.sql("""
        WITH RECURSIVE tree(k, root, depth) AS (
            SELECT s_suppkey, s_suppkey, 0
            FROM __rcte_supplier WHERE s_suppkey <= 1
            UNION ALL
            SELECT s.s_suppkey, t.root, t.depth + 1
            FROM __rcte_supplier s JOIN tree t
              ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = t.k
            WHERE s.s_suppkey > 1
        )
        SELECT k AS s_suppkey, CAST(root AS BIGINT) AS root,
               CAST(depth AS BIGINT) AS depth
        FROM tree ORDER BY s_suppkey
    """)


def q_cross_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two dims (the one place cross join
    is legitimate: tiny × tiny grid construction)."""
    r = read_table(spark, sf_dir, "region").select(F.col("r_name"))
    n = read_table(spark, sf_dir, "nation").select(F.col("n_name"))
    return r.crossJoin(n).orderBy("r_name", "n_name")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by deterministic id-hash thresholds
    (sampling.stratified_hash_sample): per-stratum rates {A: 10%,
    N: 20%, R: 10%} as bucket filters on md5_hash64(rowid) % 1000 —
    layout-invariant, exactly reproducible in ANSI SQL (hash-verified;
    RNG sampleBy, the old implementation, was partition-order dependent
    and only rows-only checkable)."""
    from yet_another_map_reduce_spark.operators import sampling

    li = read_table(spark, sf_dir, "lineitem")
    rowid = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    return sampling.stratified_hash_sample(
        li, rowid, "l_returnflag", {"A": 0.1, "N": 0.2, "R": 0.1}, seed=3
    ).select("l_orderkey", "l_linenumber", "l_returnflag")


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): trained-kmeans clustering of the
    embedding corpus, then within-cluster cosine pruning at tau=0.3
    (keep-min-id greedy) — the embedding-space member of the dedup
    family, beside the token-space (minhash/simhash) and byte-space
    (exact) tiers.  Hash-verified end to end: the oracle replays the
    2-iteration Lloyd's training as chained CTEs, the 9-rounded
    assignment argmax, and the 6-rounded pairwise prune.

    nlist is NOT a constant: ``dedup.sized_nlist`` derives it from the
    corpus count (``ceil(sqrt(n / 8))`` — 8 at the 500-vector sf0.01
    oracle scale, 16 at sf0.1, 50 at the 10x replica, 159 at 100x), so
    the within-cluster pair scan stays ``O(n^1.5)`` total instead of
    quadratic at a frozen demo nlist.  The oracle replays the SAME
    sizing via a count()-driven LIMIT on the seed CTE."""
    emb = read_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.3, target_cluster_size=8
    ).orderBy("vec_id")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load dedup: an incoming batch keeps only the first
    occurrence of each fingerprint unseen in the existing corpus — THE
    operator the streaming ingest pipeline runs per micro-batch
    (dedup.incremental_dedup), so the oracle hash-verifies the real
    code path: the r11 inverted join where the batch keys broadcast
    into a semi-scan of the corpus-sized side and the corpus never
    shuffles (plan-pinned by test_incremental_dedup_never_shuffles_seen;
    previously this query inlined its own anti join and left the
    operator itself oracle-unverified)."""
    d = read_table(spark, sf_dir, "documents")
    existing = d.where(F.col("doc_id") < 250)
    incoming = d.where(F.col("doc_id") >= 250)
    return dedup.incremental_dedup(incoming, existing, "text", "doc_id")


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 24)."""
    d = read_table(spark, sf_dir, "documents")
    return text.chunk_documents(d, "text", "doc_id", chunk_tokens=32, stride=24)


def _bpe_merges(
    docs: DataFrame, sf_dir: str, num_merges: int = 16, max_vocab: int = 4096
) -> list:
    """Train-once BPE merges per corpus version (``caching.trained``):
    the tokenizer is data, injected into every query that tokenizes."""
    return trained(
        [os.path.join(sf_dir, "documents.parquet")],
        ("bpe_merges", num_merges, max_vocab),
        lambda: text.bpe_learn(
            docs, "text", num_merges=num_merges, max_vocab_words=max_vocab
        ),
    )


def _table_count(df: DataFrame, sf_dir: str, table: str) -> int:
    """Corpus row count for size-gated tier dispatch (BPE tiers, index
    nlist sizing) — a parquet-metadata count (column-pruned scan, no
    data read), memoized per table version like _bpe_merges."""
    return trained(
        [os.path.join(sf_dir, f"{table}.parquet")], ("count",), df.count
    )


def _doc_count(docs: DataFrame, sf_dir: str) -> int:
    return _table_count(docs, sf_dir, "documents")


def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL learned BPE tokenizer (not the `bpe_ish` heuristic): 16
    merge ranks trained on the corpus's own word-frequency table
    (bounded top-4096 collect, deterministic count-desc/pair-asc
    argmax), applied corpus-wide as a pure-codegen chain of literal
    `replace` calls inside a higher-order transform.  Output: top-100
    token frequencies.  Hash-verified end to end — the oracle replays
    the ENTIRE training loop as 16 chained materialized CTEs (pair
    extraction → argmax → merge application per round) and then the
    tokenization, so training AND application are both checked.

    Tier note (100× sweep): the codegen chain re-derives every token
    OCCURRENCE while the Arrow encoder memoizes per distinct word, so
    past ``BPE_CODEGEN_MAX_DOCS`` the dispatch routes to Arrow even at
    16 merges (identical tokens, equivalence-pinned; 71.5 s → ~12 s on
    the 100× replica).  At verification scale this stays the
    pure-codegen path the oracle replays."""
    d = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(d, sf_dir)
    toks = d.select(
        F.explode(
            text.bpe_tokens_dispatch(
                F.col("text"), merges, n_docs=_doc_count(d, sf_dir)
            )
        ).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tok_count"))
        .orderBy(F.col("tok_count").desc(), F.col("token").asc())
        .limit(100)
    )


def q_text_bpe_tokenize_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARROW BPE apply tier under oracle verification: 48 trained
    merge ranks — past ``BPE_CODEGEN_MAX_MERGES``, so
    ``bpe_tokens_dispatch`` routes to the ``pandas_udf`` min-rank
    encoder (the tier that reaches realistic 32k-merge vocabularies;
    the chained-replace expression tree cannot).  Same top-100 token
    frequency output as text_bpe_tokenize; the oracle replays the full
    48-round training AND the application, so the Arrow encoder's
    claimed equivalence to rank-order replace is hash-checked against
    an engine that does literal rank-order replace."""
    d = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(d, sf_dir, num_merges=48)
    toks = d.select(
        F.explode(text.bpe_tokens_dispatch(F.col("text"), merges)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tok_count"))
        .orderBy(F.col("tok_count").desc(), F.col("token").asc())
        .limit(100)
    )


#: frozen realistic-vocabulary merge table (8,192 merges over the
#: deterministic 20k-word synthetic vocabulary), committed so the 8k
#: query and its SQL oracle share one table without a ~7 s retrain at
#: import; provenance pinned by
#: tests/test_properties.py::test_bpe_8k_frozen_table_matches_training
_BPE_8K_FROZEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "bpe_merges_8k.json"
)


def _bpe_realistic_merges(num_merges: int = 8192, n_words: int = 20000) -> list:
    """The realistic-vocabulary merge table: 8,192 merges learned
    driver-side from the deterministic 20k-word synthetic vocabulary
    (``text.synthetic_word_counts`` — the test corpus's ~31 distinct
    words cannot support 8k merges).  The default configuration loads
    the FROZEN committed table (``data/bpe_merges_8k.json``) so query
    and oracle share identical model weights with zero training cost;
    non-default arguments train in-process (pure function of the
    arguments, so any engine regenerates the identical table — the
    frozen file's provenance is test-pinned against a retrain)."""

    def train() -> list:
        if (n_words, num_merges) == (20000, 8192):
            import json

            with open(_BPE_8K_FROZEN) as fh:
                return [tuple(p) for p in json.load(fh)["merges"]]
        return text.bpe_train_merges(
            text.synthetic_word_counts(n_words), num_merges
        )

    return trained([_BPE_8K_FROZEN], ("bpe_synthetic", n_words, num_merges), train)


def q_text_bpe_tokenize_8k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE at a REALISTIC vocabulary: 8,192 trained merge ranks (256×
    the xl sibling) through the Arrow min-rank encoder, corpus-wide.
    The merge table rides the task closure as a rank dict (~8k entries,
    ~200 KB — model-parameter scale, same shipping pattern as the IVF
    centroids); encode cost tracks DISTINCT words per batch via the
    per-task memo, not merge count (measured near-flat 48→16k merges,
    BASELINE.md §"BPE at realistic vocabulary").  Same top-100 token
    frequency output shape as text_bpe_tokenize / _xl.

    Hash-verified via the encode-half oracle (_bpe_8k_oracle): the
    8,192-round TRAINING replay is what is not practically
    SQL-expressible (the xl sibling hash-verifies the trainer against a
    48-round DuckDB replay), so the frozen merge table ships to the
    oracle as literal VALUES and DuckDB independently replays the
    rank-order APPLY as an 8,192-iteration recursive CTE over distinct
    words.  Encoder equivalence is additionally pinned by
    tests/test_properties.py::test_bpe_8k_* (min-rank == rank-order
    apply on sampled vocabulary + OOV words; Arrow == driver-side
    python encode on the corpus) and the frozen table's provenance by
    test_bpe_8k_frozen_table_matches_training."""
    d = read_table(spark, sf_dir, "documents")
    merges = _bpe_realistic_merges()
    toks = d.select(
        F.explode(text.bpe_tokens_dispatch(F.col("text"), merges)).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tok_count"))
        .orderBy(F.col("tok_count").desc(), F.col("token").asc())
        .limit(100)
    )


def q_text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting with the LEARNED tokenizer: word
    count vs BPE token count (`text.bpe_token_count`, the drop-in
    upgrade for `bpe_ish_token_count` behind chunking/packing).  One
    projection, zero shuffles beyond the train-once vocab pass shared
    via _bpe_merges — plus the guarded small-input spread: the BPE
    count is ~1.1 serial CPU-s over the unsplittable bench file, and
    the orderBy's range sampler evaluates the projection a second
    time, so kernel parallelism matters twice here (r16)."""
    d = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(d, sf_dir)
    words = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(text.BPE_WORD_RE), F.lit(0)
    )
    return spread_small(d, "doc_id").select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        text.bpe_token_count("text", merges, n_docs=_doc_count(d, sf_dir))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 10 == 0 stand in
    for the eval/holdout set; flag training docs sharing any 4-gram.
    Short docs are PLANTED (``_plant_short_docs``) so the hash gate
    certifies the zero-count-row contract for docs below the gram
    width, not just the happy path."""
    d = _plant_short_docs(read_table(spark, sf_dir, "documents"))
    holdout = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    return text.decontaminate(train, holdout, n=4, threshold=0.01).orderBy("doc_id")


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style corpus-wide line dedup (``text.remove_common_lines``)
    under the hash gate.  The synthetic corpus has no newlines, so the
    query first RE-LINES each document deterministically (8-token
    groups joined with newlines — cross-document duplicate 8-token
    spans exist by corpus construction), then deletes every line
    occurring in more than 2 distinct documents and reports the cleaned
    text's md5 + per-doc removal stats.  The oracle replays the exact
    chunk/count/delete/reassemble pipeline in SQL, so a green hash
    certifies line keying, distinct-document frequency, threshold,
    order-preserving reassembly, and the empty-doc spine rule."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    relined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(8.0)).cast("int") - F.lit(1),
                ),
                lambda i: F.array_join(
                    F.slice(toks, i * F.lit(8) + F.lit(1), F.lit(8)), " "
                ),
            ),
            "\n",
        ).alias("text"),
    )
    out = text.remove_common_lines(
        relined, max_doc_freq=2, min_line_chars=10
    )
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_md5"),
        F.length("text").cast("bigint").alias("clean_chars"),
        "n_lines",
        "n_removed",
    ).orderBy("doc_id")


def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-n-gram / duplicated-trigram
    fractions) with thresholds tuned to split this corpus."""
    d = read_table(spark, sf_dir, "documents")
    return text.repetition_stats(
        d, max_top_bigram_frac=0.06, max_dup_trigram_frac=0.05
    ).orderBy("doc_id")


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM scoring with head/middle/tail terciles
    (the CCNet perplexity-bucket shape, self-trained).  Hash-verified:
    the oracle retrains the same add-k LM and replays the exact tercile
    assignment.  Short docs are PLANTED so the hash certifies the
    zero-bigram rows (n_bigrams=0, NULL score/bucket)."""
    d = _plant_short_docs(read_table(spark, sf_dir, "documents"))
    return text.bigram_lm_score(d, "text", "doc_id", add_k=0.5)


def q_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) through
    the SQL surface — Catalyst decorrelates the per-row ORDER BY/LIMIT
    into a ranked window join rather than re-executing the subquery per
    outer row."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("yamr_lat_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("yamr_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM yamr_lat_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM yamr_lat_orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) o
        """
    )


def q_agg_statistical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface per event_type: sample stddev /
    variance of value, and correlation / sample covariance between
    value and user_id.  Both engines use numerically-stable one-pass
    co-moments; round(6) absorbs merge-order ulp drift."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.corr("value", F.col("user_id").cast("double")), 6).alias(
            "corr_value_user"
        ),
        F.round(F.covar_samp("value", F.col("user_id").cast("double")), 6).alias(
            "covar_value_user"
        ),
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT via the DataFrame melt API: three lineitem
    measures become (metric, val) rows keyed by (orderkey, linenumber)."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.col("l_discount").cast("double").alias("l_discount"),
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency PMI over token pairs (collocation mining).
    Hash-verified — one ln per row, no float summation to drift."""
    d = read_table(spark, sf_dir, "documents")
    return text.pmi_cooccurrence(
        d, "text", "doc_id", min_token_docs=20, min_pair_docs=20
    )


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the 24-token corpus vocab
    (count-desc, token-asc tie-break) and report each document's
    out-of-vocabulary token rate.  Hash-verified end to end — the
    oracle rebuilds the same vocab and recomputes every rate."""
    d = read_table(spark, sf_dir, "documents")
    vocab = text.build_vocab(d, "text", vocab_size=24)
    return text.oov_stats(d, "text", "doc_id", vocab)


def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval for a 3-term query over the corpus: top-20
    docs by summed term scores (Lucene idf form, k1=1.2, b=0.75).
    Hash-verified — the oracle recomputes idf/tf/length-norm with the
    identical parenthesization."""
    d = read_table(spark, sf_dir, "documents")
    return text.bm25_search(
        d, "text", "doc_id", query_terms=["table", "scan", "stream"], top=20
    )


def q_csv_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV expression surface: to_csv serializes a struct, from_csv
    parses it back typed — the embedded-delimited-payload shape (only
    int/string fields: float→text rendering is engine-specific and
    would break the portable oracle)."""
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    line = F.to_csv(F.struct(F.col("o_orderkey"), F.col("o_orderpriority")))
    parsed = F.from_csv(line, "k BIGINT, pri STRING")
    return o.select(
        "o_orderkey",
        line.alias("csv_line"),
        parsed["k"].alias("k"),
        parsed["pri"].alias("pri"),
    )


def q_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order map functions: per-doc token-count maps built with
    map_from_entries, reshaped with transform_values and pruned with
    map_filter, then exploded back to rows — the oracle verifies the
    relational meaning (per-doc token counts with the same arithmetic
    and threshold), so a green hash certifies the map pipeline's
    semantics end to end."""
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    from yet_another_map_reduce_spark.functions import tokens as _tokens

    tok = d.select(F.col("doc_id"), F.explode(_tokens("text")).alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
    as_map = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("token", "n")))
        ).alias("m")
    )
    reshaped = as_map.select(
        "doc_id",
        F.map_filter(
            F.transform_values(F.col("m"), lambda _, v: v * 2),
            lambda _, v: v > 4,
        ).alias("m2"),
    )
    return reshaped.select(
        "doc_id", F.explode(F.col("m2")).alias("token", "doubled")
    ).select("doc_id", "token", F.col("doubled").cast("bigint").alias("doubled"))


def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document vectors (HashingTF shape) over the
    portable md5 bucket hash — vocabulary-free text→vector bridge into
    the similarity stack; hash-verified bucket-for-bucket."""
    d = read_table(spark, sf_dir, "documents")
    return text.hash_embed(d, "text", "doc_id", dim=16)


def q_text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (Schleimer et al. 2003 /
    MOSS) per document — min-hash-of-window sketch with the rightmost-
    tie rule, ~2/(w+1) of gram hashes kept at random-hash density, any shared run of
    ``w + k - 1`` tokens guaranteed to share a fingerprint.  Summarized
    per doc with integer-only digests (count / min / max / bit_xor of
    the kept hashes) so the oracle compare is float-free."""
    d = read_table(spark, sf_dir, "documents")
    fps = text.winnow_fingerprints(d, "text", "doc_id", k=4, w=5)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.min("fp_hash").alias("fp_min"),
            F.max("fp_hash").alias("fp_max"),
            F.expr("bit_xor(fp_hash)").alias("fp_xor"),
        )
        .orderBy("doc_id")
    )


def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) bucketing via ntile: 10 buckets of
    near-equal row count over order totals, with per-bucket bounds and
    counts — the partition-boundary analysis behind range-partitioned
    writes."""
    o = read_table(spark, sf_dir, "orders")
    # exact ntile, size-gated: below the threshold a single-task global
    # window wins (the distributed rank's exchange+join overhead is ~3x
    # its cost on local-scale inputs); above it, global rank via range
    # partitioning — never a corpus-sized unpartitioned window at
    # scale.  The gating count is a parquet-metadata count (cheap
    # lineage).  Then the SQL-standard ntile distribution — with n rows
    # and B buckets, q = n div B and r = n mod B, buckets 1..r get q+1
    # rows:
    #   bucket(rank) = ceil(rank/(q+1))              if rank <= r*(q+1)
    #                  r + ceil((rank - r*(q+1))/q)  otherwise
    ranked = sorts.global_ranked_adaptive(
        o.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
        "__rank",
        total_col="__n",
    )
    q = F.floor(F.col("__n") / 10)
    r = F.col("__n") % 10
    big = r * (q + 1)
    bucket = F.when(
        F.col("__rank") <= big, F.ceil(F.col("__rank") / (q + 1))
    ).otherwise(r + F.ceil((F.col("__rank") - big) / q))
    return (
        ranked.withColumn("bucket", bucket.cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


def q_pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation curation verdict composing the round-4 stages:
    chunk-level dedup survival (>= 0.5 of chunks first-occurrence),
    bigram-LM fluency (not the tail tercile), and vocabulary coverage
    (OOV <= 0.25) join into one keep/drop per document.  Oracle =
    the three already-verified stage oracles joined, so a green hash
    certifies the composition, not a fourth re-derivation.  The corpus
    is cached: three stage operators (each with internal branches)
    otherwise re-scan it eight times (r6 scan audit)."""
    d = read_table(spark, sf_dir, "documents").transform(tracked_cache)
    chunks = dedup.chunk_dedup(d, "text", "doc_id", chunk_tokens=10).select(
        "doc_id", "kept_frac"
    )
    lm = text.bigram_lm_score(d, "text", "doc_id", add_k=0.5).select(
        "doc_id", "lm_bucket"
    )
    vocab = text.build_vocab(d, "text", vocab_size=24)
    oov = text.oov_stats(d, "text", "doc_id", vocab).select("doc_id", "oov_rate")
    return (
        chunks.join(lm, "doc_id")
        .join(oov, "doc_id")
        .select(
            "doc_id",
            "kept_frac",
            "lm_bucket",
            "oov_rate",
            (
                (F.col("kept_frac") >= 0.5)
                & (F.col("lm_bucket") != "tail")
                & (F.col("oov_rate") <= 0.25)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_pipeline_corpus_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-hygiene verdict: decontamination (4-gram
    overlap vs the doc_id%10 holdout) + Gopher repetition filters +
    corpus-frequency boilerplate detection, joined into one keep/drop
    decision per training document — the filter stack a pretraining
    corpus passes before mixing.  Three per-doc relations join on the
    doc id (AQE broadcasts the small aggregates); the corpus is cached
    so the three stage operators share one real read (r6 scan audit:
    five FileScans without it)."""
    d = read_table(spark, sf_dir, "documents").transform(tracked_cache)
    holdout = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)
    dec = text.decontaminate(train, holdout, n=4, threshold=0.01)
    rep = text.repetition_stats(
        d, max_top_bigram_frac=0.06, max_dup_trigram_frac=0.05
    ).select("doc_id", "top_bigram_frac", "dup_trigram_frac", F.col("keep").alias("keep_rep"))
    bp = text.boilerplate_ngram_stats(
        d, n=5, max_doc_freq=2, max_boilerplate_frac=0.05
    ).select("doc_id", "boilerplate_frac", F.col("keep").alias("keep_bp"))
    return (
        dec.join(rep, "doc_id")
        .join(bp, "doc_id")
        .select(
            "doc_id",
            "contamination",
            "top_bigram_frac",
            "dup_trigram_frac",
            "boilerplate_frac",
            (~F.col("is_contaminated") & F.col("keep_rep") & F.col("keep_bp")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-frequency boilerplate detection over 5-grams
    (an n-gram in >2 distinct docs is boilerplate).  Short docs are
    PLANTED so the hash certifies their zero-count keep rows."""
    d = _plant_short_docs(read_table(spark, sf_dir, "documents"))
    return text.boilerplate_ngram_stats(
        d, n=5, max_doc_freq=2, max_boilerplate_frac=0.05
    ).orderBy("doc_id")


def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(d, "text", "doc_id", num_hashes=12, shingle_k=3)
    return sig.select(
        "doc_id",
        F.posexplode("signature").alias("hash_idx", "minhash"),
    ).select("doc_id", F.col("hash_idx").cast("bigint").alias("hash_idx"), "minhash")


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "text", "doc_id", num_hashes=12, bands=4, shingle_k=3)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.5, num_hashes=12, bands=4, shingle_k=3
    )


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OPERATING CURVE: verified Jaccard pairs counted
    cumulatively at each candidate threshold (0.5 … 0.9) — the
    diagnostic every curation run does before committing to a θ, since
    too low merges distinct documents and too high leaves near-dups.
    One pass: the LSH-candidate + class-verified Jaccard relation is
    computed once (threshold 0 keeps every verified candidate), each
    pair lands in its exact threshold bucket (a CASE chain using the
    same ``>=`` comparisons a per-threshold filter would — identical
    keep-sets), and the cumulative curve folds from the 5-bucket
    summary.  The pair mass — quadratic in duplicate mass by the pairs
    contract — streams through ONE partial-aggregated pass; a grid
    cross-join would multiply it 5× before any aggregation."""
    d = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.0, num_hashes=12, bands=4, shingle_k=3
    )
    j = F.col("jaccard")
    bucket = (
        F.when(j >= 0.9, 0.9)
        .when(j >= 0.8, 0.8)
        .when(j >= 0.7, 0.7)
        .when(j >= 0.6, 0.6)
        .when(j >= 0.5, 0.5)
    )
    per_bucket = (
        pairs.select(bucket.alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = local_relation(
        spark, [(t / 100.0,) for t in range(50, 91, 10)], "threshold double"
    )
    return (
        grid.join(F.broadcast(per_bucket), F.col("bucket") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.sum("n").cast("bigint").alias("n_pairs"))
        .orderBy("threshold")
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs → connected components: the clustering step
    that turns pairwise near-dup evidence into whole duplicate clusters
    (a~b, b~c collapse even though a~c was never emitted).

    The edge list is the STAR form (`minhash_lsh_edges`): per LSH
    bucket, hub→member edges — identical components to the clique pair
    list (the oracle still replays clique pairs into its recursive CTE,
    so the equivalence is hash-checked every run), but linear instead
    of quadratic in bucket size, which is what survives duplicate-heavy
    corpora (100× replica: the pair form timed out at 180 s; this
    completes corpus-linear)."""
    d = read_table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_edges(d, "text", "doc_id", num_hashes=12, bands=4, shingle_k=3)
    comp = dedup.connected_components(edges, "id_a", "id_b")
    return comp.select(F.col("id").alias("doc_id"), "component").orderBy("doc_id")


def q_corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture accounting per (source, lang): docs, tokens, and share
    of the corpus token budget — the report every dataset card and
    mixing-weight decision starts from.  One map-side-partial agg; the
    total rides a window over the already-tiny grouped relation."""
    d = read_table(spark, sf_dir, "documents")
    from yet_another_map_reduce_spark.functions import tokens as _tokens

    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(_tokens("text"))).cast("bigint").alias("n_tokens"),
    )
    total = Window.partitionBy()
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(total), 6).alias(
            "token_share"
        ),
    )


def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end state: LSH pairs → connected components
    → per-cluster canonical document selection (highest quality score,
    ties to the lowest id) — what actually ships to training after
    near-dup clustering.  One max(struct) aggregation per cluster, no
    window over the corpus; oracle composes the verified components and
    quality oracles.  Star-edge input (see dedup_components): identical
    clusters, bucket-linear edge mass — the pair form timed out at the
    100× duplicate-heavy replica."""
    d = read_table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_edges(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle_k=3
    )
    comp = dedup.connected_components(edges, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    q = text.text_stats(d, "text", "doc_id").select("doc_id", "quality")
    best = F.max(
        F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid"))
    )
    return (
        comp.join(q, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            best.alias("__best"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("__best")["nid"]).cast("bigint").alias("canonical_doc_id"),
            F.col("__best")["q"].alias("best_quality"),
        )
    )


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as dedup_components but via large-star/small-star
    contraction (O(log n) rounds on any graph shape) — must land on the
    identical component assignment, checked against the same recursive
    CTE oracle.  Fed by star edges (see dedup_components): same
    components, bucket-linear edge mass."""
    d = read_table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_edges(d, "text", "doc_id", num_hashes=12, bands=4, shingle_k=3)
    comp = dedup.connected_components_star(edges, "id_a", "id_b")
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").cast("bigint").alias("component")
    ).orderBy("doc_id")


def q_pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep in one plan: language-ID + quality
    scoring → keep English above threshold → exact dedup (keep lowest
    id per fingerprint) → token + chunk accounting.  One scan, one
    window shuffle on the fixed-width fingerprint — the composition a
    100 TB corpus-prep job runs nightly."""
    d = spread_small(read_table(spark, sf_dir, "documents"), "doc_id")
    scored = d.select(
        "doc_id",
        text.lang_id("text").alias("lang"),
        text.quality_score("text").alias("quality"),
        text.token_count("text").cast("bigint").alias("n_tokens"),
        text.fingerprint("text").alias("fp"),
    )
    kept = scored.where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    deduped = kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return deduped.select(
        "doc_id",
        "lang",
        "quality",
        "n_tokens",
        (F.floor((F.col("n_tokens") - 1) / 24) + 1).cast("bigint").alias("n_chunks"),
    ).orderBy("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup.simhash(d, "text", "doc_id", bits=32)


def q_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded SimHash near-dup: band collisions generate
    candidates (lossless for hamming ≤ bands-1 by pigeonhole), exact
    bit_count(XOR) verifies — catches the hamming-1..3 near-dups that an
    exact fingerprint match misses."""
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dedup.simhash_near_dup_pairs(
        d, "text", "doc_id", bits=32, bands=4, max_hamming=3
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-block near-dup pairs (BLAS gram tier).  The output's
    ``guarded`` column is hash-pinned FALSE here: no label block exceeds
    the quadratic-burn cap at verification scale, so every pair is from
    the exact all-pairs scan — if the guard ever silently engaged, the
    oracle hash would catch it."""
    emb = read_table(spark, sf_dir, "embeddings")
    # the synthetic embeddings are near-orthogonal random vectors (max
    # same-label cosine ≈ 0.47) — 0.35 exercises the operator with a
    # real candidate set; production near-dup would use ~0.9+
    return dedup.embedding_near_dup_pairs_gram(
        emb, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.35
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe near-dup: label blocks sub-split by a 3-plane sign-LSH
    signature before the exact gram scan — the registered answer to
    `embedding_near_dup`'s inherent within-block quadratic (113× time at
    100× data); here per-group work is divided by up to 2^planes and the
    planes knob bounds it as the corpus grows.  Hash-verified: the
    md5-derived hyperplanes, sign buckets, and in-bucket rounded-cosine
    pairs are all replayed by the DuckDB oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        threshold=0.35,
        num_planes=3,
        dim=64,
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via sign-LSH buckets — hash-verified: the
    hyperplanes are md5-derived (similarity._hyperplane), so the oracle
    rebuilds the identical planes, signatures, and bucket-restricted
    cosine top-k in ANSI SQL.  A green hash certifies the whole
    pipeline — plane generation, signature bits, bucket join, and
    ranking — not just row counts."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        num_planes=6,
        dim=64,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via IVF inverted lists (nprobe of nlist cells
    searched) — hash-verified: the lowest-id seed centroids, the
    quantized nearest-centroid assignment, the nprobe cell probe, and
    the in-cell cosine top-k are all replayed by the SQL oracle, so a
    green hash certifies the full inverted-file pipeline.  Exhaustive-
    probe equivalence to brute force stays pinned by test."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nlist=16,
        nprobe=4,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN over int8 scalar-quantized vectors — the
    memory-bandwidth tier: ``scale = 127/max|v|`` per vector,
    ``q = floor(v*scale + 0.5)``, cosine over the integer vectors (the
    per-vector scale cancels).  The integer dots/norms are exact, so the
    oracle replays the full quantize→dot→rank pipeline bit-for-bit and
    a green hash certifies quantization, scoring, and ranking.  At
    100 TB the quantized corpus is a 4× smaller scan and the hot loop
    is integer SIMD; composes with IVF/LSH bucketing for pruning."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


def _pq_books(
    emb: DataFrame, sf_dir: str, m: int = 4, k: int = 8, iterations: int = 2
) -> list:
    """Train-once PQ codebooks, memoized per corpus version
    (``caching.trained``) for the life of the process: training is
    deterministic (6-rounded Lloyd's fixpoints), so every query that
    needs this model — pq_topk, pq_recall, ivfpq, the persisted index —
    shares ONE training pass instead of each rescanning the corpus
    twice for an identical result.  The FAISS lifecycle: the model is
    data, trained once per corpus version, injected into every search."""
    return trained(
        [os.path.join(sf_dir, "embeddings.parquet")],
        ("pq_books", m, k, iterations),
        lambda: similarity.train_pq_codebooks(
            emb, "vec_id", "embedding", m=m, k=k, iterations=iterations
        ),
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via product quantization + asymmetric distance
    (the FAISS IVF-PQ ranking tier): 4 subspaces x 8 L2 codebooks
    trained with deterministic Lloyd's, corpus encoded to 4 small ints
    per vector (64x scan reduction), queries ranked by summed LUT
    distances.  Hash-verified end to end — the oracle replays codebook
    training, encoding, and the ADC ranking as chained CTEs."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        books=_pq_books(emb, sf_dir),
    )


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index (FAISS shape): inverted-file cell
    pruning (probe 4 of 16 cells) times PQ code compression (4 codes
    per vector), ranked by ADC lookup distance.  Hash-verified — the
    oracle replays cell assignment, codebook training, encoding, and
    the cell-restricted ADC ranking.  Codebooks come from the shared
    train-once model (_pq_books), not a per-call retraining."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nlist=16,
        nprobe=4,
        books=_pq_books(emb, sf_dir),
    )


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist (top-30 by IVF-PQ lookup distance) + exact cosine
    re-rank to top-10 (`similarity.ivfpq_rerank_topk`) — the accuracy-
    recovery stage every production retrieval system runs after PQ.
    The shortlist broadcasts back onto the corpus for one map-side
    pruned vector fetch; exact math is confined to |Q|×30 rows.  The
    oracle replays ADC shortlist AND the exact re-rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_rerank_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        shortlist=30,
        nlist=16,
        nprobe=4,
        books=_pq_books(emb, sf_dir),
    )


def q_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ index lifecycle end to end: encode the
    corpus once (cell assignment + PQ codes) into parquet partitioned
    by centroid_id, then search THAT — the probe scan reads only the
    probed cells' files (PartitionFilters, pinned by test) and bytes
    per vector, never the raw corpus.  Results are identical to the
    in-memory ivfpq_topk with the same model, so the same oracle
    hash-verifies both; what this query adds is the train-once /
    search-many index shape that makes nprobe/nlist the real I/O
    fraction at 100 TB.

    The search half runs MODEL-FREE: centroids + codebooks come from
    the index's committed ``_model.json`` sidecar, so once the index
    exists (here: across driver sessions via the fingerprinted temp
    dir) searching does zero training/corpus scans — the plan touches
    only the query frame and the probed index partitions.

    nlist is corpus-aware (`similarity.build_ivfpq_index_auto` →
    `dedup.sized_nlist`, the FAISS nlist~sqrt(n) practice), NOT a
    frozen demo constant: at fixed nprobe=4 the probed fraction is
    4/sqrt(n/8) — 50% of cells at the sf0.01 verification corpus
    (nlist=8), ~2.5% at the 100× replica (nlist=159) — so index I/O
    per query grows as sqrt(n), not n.  The oracle replays the SAME
    sizing from its own count() (subquery LIMIT on the centroid-seed
    CTE, the dedup_semantic pattern)."""
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    # cache key includes the corpus data_version: regenerated testdata
    # at the same path gets a fresh index instead of a stale one, and
    # the CURRENT-pointer commit in build_ivfpq_index makes concurrent
    # rebuilds race-free (each writes its own versioned subdir; the
    # pointer swap is atomic)
    fp = data_version(os.path.join(sf_dir, "embeddings.parquet"))
    from yet_another_map_reduce_spark.operators.dedup import sized_nlist

    nlist = sized_nlist(_table_count(emb, sf_dir, "embeddings"))
    key = sf_dir.strip("/").replace("/", "_")
    # nlist in the cache key: an index persisted under the old fixed-16
    # sizing (or a different corpus count) must not be silently reused
    index_dir = os.path.join(
        tempfile.gettempdir(), f"ivfpq_index_{key}_{fp}_nl{nlist}"
    )
    # build iff missing — or committed by a pre-sidecar layout (no model)
    if similarity.load_ivfpq_model(spark, index_dir)[0] is None:
        similarity.build_ivfpq_index_auto(
            emb,
            "vec_id",
            "embedding",
            index_dir,
            books=_pq_books(emb, sf_dir),
            n=_table_count(emb, sf_dir, "embeddings"),
        )
    return similarity.search_ivfpq_index(
        spark,
        index_dir,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        # default probing: probe_fraction=0.025 of nlist, floored at 4 —
        # at these corpus sizes (nlist 8..159) the floor dominates, so
        # results equal the former explicit nprobe=4 while production
        # scale-ups keep probing a constant index fraction
    )


def q_ann_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build the persisted IVF-PQ index
    on HALF the corpus (even vec_ids), then absorb the other half via
    `similarity.append_to_ivfpq_index` — the new batch is encoded with
    the index's FROZEN model (one pass over the batch only, no
    retraining, no rewrite of existing segments) and committed as a
    manifest version referencing old + new segments.  Because
    assignment/encoding are per-row deterministic, the appended index
    answers bit-identically to one built over the union corpus — so
    the same replay oracle that verifies ann_ivfpq_topk hash-verifies
    the whole append lifecycle.  This is the nightly-ingest story at
    100 TB: refresh cost is proportional to the new batch, not the
    corpus."""
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    fp = data_version(os.path.join(sf_dir, "embeddings.parquet"))
    key = sf_dir.strip("/").replace("/", "_")
    index_dir = os.path.join(
        tempfile.gettempdir(), f"ivfpq_append_{key}_{fp}"
    )
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    if similarity.load_ivfpq_model(spark, index_dir)[0] is None:
        similarity.build_ivfpq_index(
            even,
            "vec_id",
            "embedding",
            index_dir,
            centroids=similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=16),
            books=_pq_books(emb, sf_dir),
        )
    # resume-safe: a crash between build and append leaves a live
    # half-corpus version (no manifest) — detect and finish the append
    live = similarity._resolve_index_dir(index_dir)
    if not os.path.exists(os.path.join(live, "_segments.json")):
        similarity.append_to_ivfpq_index(spark, index_dir, odd, "vec_id", "embedding")
    return similarity.search_ivfpq_index(
        spark,
        index_dir,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        # default probe_fraction sizing (floor 4 == former nprobe=4 here)
    )


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation-quality report for EVERY approximate tier in one
    pass: per-query recall@10 vs exact cosine for the int8-quantized
    tier, the raw PQ/ADC tier, and the shortlist+re-rank pipeline —
    the eval an ANN deployment runs before trusting an index, and the
    measured justification for the re-rank stage (at sf0.01 mean
    recall rises ~0.26 raw-PQ → ~0.68 re-ranked).

    Consolidates the former ann_quantized_recall / ann_pq_recall /
    ann_rerank_recall registry rows (r10 verdict item 3: same
    verified-eval join shape three times).  Cheaper than the three
    separate queries too: the exact-cosine baseline and the PQ
    codebooks are computed ONCE and shared across tiers instead of
    once per row."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    # ONE collect of the query matrix shared by the exact baseline and
    # the int8 tier (each eager tier otherwise re-runs the query
    # subtree as its own Spark job at construction — r16)
    qrows = similarity.collect_query_matrix(q, "vec_id", "embedding")
    exact = similarity.cosine_topk(
        emb, q, "vec_id", "embedding", k=10, qrows=qrows
    ).select("query_id", "neighbor_id")
    books = _pq_books(emb, sf_dir)
    tiers = {
        "int8": similarity.quantized_topk(
            emb, q, "vec_id", "embedding", k=10, qrows=qrows
        ),
        "pq_adc": similarity.pq_topk(
            emb, q, "vec_id", "embedding", k=10, books=books
        ),
        "pq_rerank": similarity.ivfpq_rerank_topk(
            emb, q, "vec_id", "embedding", k=10, shortlist=30, books=books
        ),
    }
    # ONE join + ONE aggregate over a tier-tagged union (r15): the
    # former per-tier join→groupBy→union chain planned three copies of
    # the exact-baseline subtree and three aggregation exchanges — at
    # bench scale each extra exchange is a sequential AQE stage
    # materialization, and at any scale the exact baseline (a full
    # corpus scan) must not be re-derived per tier.  Same rows: the
    # left join against the per-tier hit set and the per-(tier, query)
    # overlap count are unchanged, just batched.
    from functools import reduce as _reduce

    hits = _reduce(
        DataFrame.unionByName,
        [
            approx.select(
                F.lit(tier).alias("tier"),
                "query_id",
                "neighbor_id",
                F.lit(1).alias("__hit"),
            )
            for tier, approx in tiers.items()
        ],
    )
    tier_names = local_relation(spark, [(t,) for t in tiers], "tier string")
    return (
        exact.crossJoin(F.broadcast(tier_names))
        .join(hits, ["tier", "query_id", "neighbor_id"], "left")
        .groupBy("tier", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap")
        )
        .select(
            "tier",
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap") / 10, 6).alias("recall_at_10"),
        )
    )


def q_embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus (similarity.
    kmeans_assign: distributed Lloyd's training + broadcast-centroid
    assignment), rolled up to per-cluster size and mean cosine — the
    topic-bucketing step of an embedding-space curation pipeline.
    Hash-verified: training rounds every fixpoint to 6 decimals, so the
    oracle replays the full iterative loop (seed → assign → mean,
    twice) as chained CTEs and a green hash certifies the training
    itself; planted-cluster recovery stays pinned by tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    # 2 training iterations keep the demo inside the suite's time
    # budget (convergence is pinned by the planted-cluster test)
    assigned = similarity.kmeans_assign(
        emb, "vec_id", "embedding", nlist=8, iterations=2
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(F.avg("cos"), 6).alias("avg_cos"),
        )
        .orderBy("cluster_id")
    )


def q_embedding_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity subsampling — the embedding-space
    curation move behind "cluster then sample uniformly per cluster"
    data recipes: k-means-bucket the corpus (deterministic Lloyd's,
    the hash-verified trainer), then keep a deterministic hash-ranked
    20 vectors per cluster, so the subsample covers embedding space
    instead of mirroring cluster mass (head topics stop dominating,
    tail topics are guaranteed representation).  Pure composition of
    two verified operators (kmeans_assign × reservoir_per_group): one
    codegen assignment pass, one bounded-cardinality window — the
    corpus never shuffles, only the per-cluster candidates.  The
    oracle replays training, assignment, AND the hash-ranked pick."""
    emb = read_table(spark, sf_dir, "embeddings")
    from yet_another_map_reduce_spark.operators import sampling

    assigned = similarity.kmeans_assign(
        emb, "vec_id", "embedding", nlist=8, iterations=2
    ).select("vec_id", "cluster_id")
    return sampling.reservoir_per_group(
        assigned, ["cluster_id"], "vec_id", 20,
        n=_table_count(emb, sf_dir, "embeddings"),
    ).orderBy("cluster_id", "vec_id")


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over k-means-TRAINED centroids (similarity.
    train_ivf_centroids — distributed Lloyd's, map-only assignment +
    one partial-agged shuffle per iteration: 5 construction jobs under
    AQE, training's 1 + 2·iterations) instead of the lowest-id seeding.
    Hash-verified end to end: the oracle replays the training loop
    (rounded fixpoints) AND the probe/top-k, so a green hash certifies
    training + search together.  Planted-cluster recovery and
    determinism stay pinned by tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    # 2 training iterations keep the demo inside the suite's time
    # budget; multi-iteration convergence is pinned by the planted-
    # cluster test (tests/test_operators.py)
    cent = similarity.train_ivf_centroids(
        emb, "vec_id", "embedding", nlist=8, iterations=2
    )
    out = similarity.ivf_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
        nprobe=2,
        centroids=cent,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def q_lateral_topk_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated lateral join via the DataFrame ``lateralJoin`` API
    (Spark 4): per order, the two priciest line items."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = read_table(spark, sf_dir, "lineitem")
    top2 = (
        li.where(F.col("l_orderkey") == F.col("o_orderkey").outer())
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_linenumber").asc())
        .limit(2)
        .select("l_linenumber", "l_extendedprice")
    )
    return (
        o.lateralJoin(top2)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("l_linenumber").cast("bigint").alias("line_no"),
            "l_extendedprice",
        )
        .orderBy("o_orderkey", F.col("l_extendedprice").desc())
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents")
    media = multimodal.media_from_text(d, "doc_id", "text", kind="image")
    meta = multimodal.media_metadata(media)
    return meta.withColumn("n_bytes", F.col("n_bytes").cast("bigint"))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over REAL decoded pixels:
    synthetic PPM images (pixel (y,x,c) of image i is
    (i*31+y*7+x*3+c*11) % 256) flow through ``extract_features``'s
    mapInPandas kernel, which dispatches decodable PPM blobs to the
    pixel-statistics path — dims, per-channel means, contrast (std),
    min, max.  The ``array<float>`` vector is posexploded to scalar
    (media_id, pos, value) rows so the result is driver-canonicalizable
    AND every feature value is re-derivable in ANSI SQL (hash-verified,
    not rows-only).  No rounding is needed for parity: means are exact
    multiples of 1/64, std is an integer-exact variance formula, and
    the oracle applies the same float32 quantization the array<float>
    schema imposes — both engines emit bit-identical doubles."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = multimodal.synthetic_ppm_media(d, "doc_id", width=8, height=8)
    feats = multimodal.extract_features(media)
    return (
        feats.select("media_id", F.posexplode("features").alias("pos", "value"))
        .select(
            "media_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("media_id", "pos")
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (pure-numpy PPM P6 kernel over mapInPandas):
    synthetic deterministic images — pixel (y,x,c) of image i is
    (i*31 + y*7 + x*3 + c*11) % 256 — so the per-channel means are
    re-derivable in ANSI SQL and the decode is hash-verified, not
    rows-only."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    media = multimodal.synthetic_ppm_media(d, "doc_id", width=8, height=8)
    return multimodal.decode_image(media).select(
        "media_id", "width", "height", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via banded perceptual hash
    (``multimodal.image_phash`` + ``image_near_dup_pairs``) under the
    hash gate.  The synthetic pixel rule ``(i*31 + y*7 + x*3 + c*11) %
    256`` makes images ``i`` and ``i+256`` bit-identical (31 is
    invertible mod 256), so the expected near-dup structure is a pure
    function of doc_id — and the DuckDB oracle REPLAYS the whole
    pipeline arithmetically: the 16x16→8x8 even-pixel downsample,
    grayscale channel sums, the integer ``gray*64 > total`` threshold
    bits, the 60-bit pack, the 4x15-bit banding self-join, and the
    exact ``bit_count(xor)`` verification, folded per hamming distance
    (pair counts + pair-id xor-hash) so the row stays small however
    dense the synthetic near-dup structure is.  A green hash certifies
    every stage of the multimodal dedup path."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 600)
    media = multimodal.synthetic_ppm_media(d, "doc_id", width=16, height=16)
    pairs = multimodal.image_near_dup_pairs(
        media, bands=4, max_hamming=3, max_bucket_size=None
    )
    return (
        pairs.withColumn(
            "h",
            md5_hash64(F.concat_ws("|", F.col("id_a"), F.col("id_b"))),
        )
        .groupBy("hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("bit_xor(h)").alias("pair_hash_xor"),
        )
        .orderBy("hamming")
    )




def q_multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash (``image_phash(kind="dct")``) — the
    brightness/contrast/illumination-robust tier above aHash.  The
    whole transform is fixed-point integer arithmetic
    (``multimodal.dct_coeff_table``, scale 2^14, int64 matmuls, median
    = an element of the 63 non-DC coefficients), so the DuckDB oracle
    replays it bit for bit: the synthetic 16x16 pixel rule, the two
    integer basis matmuls (row pass then column pass over the SAME
    inlined coefficient literals the Spark kernel uses), the
    median-of-63 threshold, and the 60-bit pack.  A green hash
    certifies every stage of the DCT tier."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = multimodal.synthetic_ppm_media(d, "doc_id", width=16, height=16)
    return (
        multimodal.image_phash(media, hash_size=8, kind="dct")
        .select("media_id", "phash", "decodable")
        .orderBy("media_id")
    )


def q_multimodal_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video clip-level near-dup (``multimodal.video_near_dup_pairs``)
    under the hash gate: frame f of video i is the synthetic pattern
    for index ``i*1000 + f`` (invertible mod 256), so the expected
    clip-pair structure — which clips share visually-identical frames,
    how many frame pairs, the min hamming — is a pure function of
    doc_id, and the oracle replays the WHOLE pipeline arithmetically:
    per-frame aHash from the pixel rule, the 4x15-bit banding over
    composite frame keys, exact ``bit_count(xor)`` verification, the
    cross-clip fold (least/greatest canonicalization, pair counts, min
    hamming), folded per min-hamming so the result stays small however
    dense the synthetic structure is."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.operators import multimodal

    d = spread_small(
        read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 400),
        "doc_id",
    )
    video = multimodal.synthetic_video_media(
        d, "doc_id", n_frames=6, frame_ms=40, width=8, height=8
    )
    pairs = multimodal.video_near_dup_pairs(
        video, every_ms=40, bands=4, max_hamming=3, max_bucket_size=None
    )
    return (
        pairs.withColumn(
            "h",
            md5_hash64(
                F.concat_ws(
                    "|", F.col("id_a"), F.col("id_b"), F.col("n_frame_pairs")
                )
            ),
        )
        .groupBy("min_hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("n_frame_pairs").alias("n_frame_pairs_total"),
            F.expr("bit_xor(h)").alias("pair_hash_xor"),
        )
        .orderBy("min_hamming")
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize chained into the REAL PPM decode:
    8x8 synthetic images shrink to 4x4, so the decoded pixel (y,x,c) is
    the source pixel (2y,2x,c) = (i*31 + 14y + 6x + 11c) % 256 — the
    oracle re-derives the resampled channel means arithmetically, so a
    green hash certifies the resize index math AND the re-encode/decode
    round trip."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    media = multimodal.synthetic_ppm_media(d, "doc_id", width=8, height=8)
    small = multimodal.resize_image(media, width=4, height=4)
    return multimodal.decode_image(small).select(
        "media_id", "width", "height", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (MJPM uncompressed container: length-
    prefixed P6 frames) chained into the REAL PPM decode — frame f of
    video i is the synthetic pattern for index i*1000+f, so sampled-
    frame channel means are re-derivable in ANSI SQL and the whole
    sample->decode pipeline is hash-verified."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    video = multimodal.synthetic_video_media(
        d, "doc_id", n_frames=6, frame_ms=40, width=8, height=8
    )
    frames = multimodal.sample_video_frames(video, every_ms=80)
    decoded = multimodal.decode_image(
        frames.select(
            # decode_image keys on media_id; make it unique per frame —
            # ×1000 matches the fixture's frame-index space, so the key
            # can't collide for any n_frames the fixture can produce
            (F.col("media_id") * 1000 + F.col("frame_idx")).alias("media_id"),
            "content",
        )
    )
    return decoded.select(
        (F.col("media_id") / 1000).cast("bigint").alias("video_id"),
        F.pmod("media_id", F.lit(1000)).cast("bigint").alias("frame_idx"),
        (F.pmod("media_id", F.lit(1000)) * 40).cast("bigint").alias("ts_ms"),
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    ).orderBy("video_id", "frame_idx")


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM16 parse (pure-numpy RIFF walker) over synthesized
    square waves — hash-verified: a square wave's statistics are exact
    arithmetic (RMS = amplitude, since every sample is ±amp; crossings
    = floor((n-1)/half_period)), so the oracle re-derives every value
    from the fixture parameters in ANSI SQL, float32-quantizing where
    the Arrow schema does.  The WAV bytes and the RIFF walk are real —
    the oracle checks the decode, not a stub."""
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    wav = multimodal.synthetic_wav_media(d, "doc_id", rate=8000, n_samples=800)
    return multimodal.extract_audio_features(wav).select(
        "media_id", "sample_rate", "n_samples", "duration_ms",
        F.round(F.col("rms").cast("double"), 2).alias("rms"),
        F.round(F.col("zero_crossing_rate").cast("double"), 4).alias(
            "zero_crossing_rate"
        ),
    )


def q_multimodal_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup (``multimodal.audio_near_dup_pairs``) under the
    hash gate, BOTH tiers in one row (r15 upgrade, registry-wall
    consolidation): ``sign`` (zero-crossing pattern) and ``spectral``
    (band-energy-difference over the fixed-point integer DFT).  The
    fixture proves amplitude independence concretely: documents ``i``
    and ``i+8`` synthesize square waves with DIFFERENT amplitudes but
    the same half-period, so both tiers must land them at hamming 0 —
    the re-gained-copy story a real audio dedup needs.  The oracle
    replays everything arithmetically: the sign of sample ``13k`` for
    the sign tier; for the spectral tier the SAME inlined cos/sin
    integer tables the kernel folds (``spectral_dft_tables``, scale
    2^7), the per-frame band energies re²+im², the
    difference-of-differences bits, the 60-bit pack; then the shared
    4x15 banding self-join, exact ``bit_count(xor)``, folded per
    (tier, hamming)."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.operators import multimodal

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    wav = multimodal.synthetic_wav_media(d, "doc_id", rate=8000, n_samples=800)

    def tier(kind: str) -> DataFrame:
        return multimodal.audio_near_dup_pairs(
            wav, bands=4, max_hamming=3, max_bucket_size=None, kind=kind
        ).withColumn("tier", F.lit(kind))

    pairs = tier("sign").unionByName(tier("spectral"))
    return (
        pairs.withColumn(
            "h", md5_hash64(F.concat_ws("|", F.col("id_a"), F.col("id_b")))
        )
        .groupBy("tier", "hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("bit_xor(h)").alias("pair_hash_xor"),
        )
        .orderBy("tier", "hamming")
    )


def q_agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch VERIFIED against exact percentiles.

    The sketch value itself is algorithm-specific (not reproducible in
    another engine), so the query emits (a) the exact interpolated
    median/p95 pinned as integers — prices are 2-decimal and the
    type-7 interpolation fractions at these ranks are multiples of 1/2
    and 1/20, so ×200 / ×2000 land exactly on integers and float
    formula noise can't flake the hash — and (b) booleans asserting
    the sketch lands within a ±0.05-quantile window of the exact
    answer (default accuracy bounds rank error at n/10000, ~500×
    tighter).  The oracle recomputes the exact values and emits
    literal TRUE: a green hash certifies the sketch's error bound —
    upgrading the old rows-only check to a real verification."""
    li = read_table(spark, sf_dir, "lineitem")
    # the sketch halves stay one parallel agg; the exact reference
    # values come from the distributed order-statistics helper
    # (bit-identical to the percentile aggregate, no single-reducer
    # merge) and attach via a broadcast-size join on the 3 flag groups
    ex = aggregates.percentile_exact_dist(
        li, "l_returnflag", "l_extendedprice", [0.45, 0.5, 0.55, 0.90, 0.95, 0.99]
    ).select("l_returnflag", F.col("__p").alias("ex"))
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("l_extendedprice", 0.5).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95).alias("a95"),
    ).join(ex, "l_returnflag", "left")
    return g.select(
        "l_returnflag",
        "n",
        F.round(F.col("ex")[1] * 200).cast("bigint").alias("median_x200"),
        F.round(F.col("ex")[4] * 2000).cast("bigint").alias("p95_x2000"),
        ((F.col("a50") >= F.col("ex")[0]) & (F.col("a50") <= F.col("ex")[2])).alias(
            "p50_in_bound"
        ),
        ((F.col("a95") >= F.col("ex")[3]) & (F.col("a95") <= F.col("ex")[5])).alias(
            "p95_in_bound"
        ),
    ).orderBy("l_returnflag")


# ===========================================================================
# TPC-H query shapes (beyond Q1/Q3/Q6 above) — the reference's golden
# aggregation generalized to the classic decision-support patterns
# ===========================================================================


def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi residual condition (l_shipdate > o_orderdate)."""
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation residual predicate;
    all dimension tables broadcast, one shuffle for the final group-by."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair volume by ship year.

    The nation dimension joins twice (supplier side and customer side);
    the pair filter is a symmetric OR evaluated after both joins."""
    s = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, global top-20
    with a deterministic tie-break."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact↔dim join."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.try_divide(
                    F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))),
                    F.sum(rev),
                ),
                4,
            ).alias("promo_revenue")
        )
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar-max filter.

    The scalar max is computed as a 1-row aggregate and broadcast back
    onto the revenue view — no unpartitioned window, so the view never
    collapses to a single partition regardless of supplier count."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = read_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.join(F.broadcast(mx)).where(F.col("total_revenue") == F.col("mx"))
    return (
        s.join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi join back to the fact table
    (large-volume orders), top-100 by order value."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big.hint("shuffle_hash"), "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q_tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (above-average balance) + anti
    join (customers with no urgent orders), grouped by nation."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing for pretraining batches —
    LAYOUT-INVARIANT next-fit (text.pack_sequences_deterministic): bin
    assignment is a pure function of (ids, counts, budget, lanes,
    seed), so the DuckDB oracle replays the identical recurrence as a
    recursive CTE and the packing is hash-verified (the old per-
    partition first-fit variant remains available as
    text.pack_sequences; its budget invariant stays pinned by
    test_pack_sequences_respects_budget)."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tok")
    )
    return text.pack_sequences_deterministic(
        d, "doc_id", "n_tok", budget=128, num_parts=8, seed=11
    ).orderBy("doc_id")


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing accounted by the LEARNED BPE tokenizer
    (text.bpe_token_count) instead of the whitespace proxy — the token
    budget a real pretraining batch is packed against.  Same
    layout-invariant next-fit recurrence as pack_sequences; the oracle
    composes the full 16-round BPE training replay with the recursive
    packing CTE, so tokenizer training, token accounting, AND packing
    are all hash-verified in one query."""
    d = read_table(spark, sf_dir, "documents")
    merges = _bpe_merges(d, sf_dir)
    # guarded spread: the BPE-count projection is ~1.1 serial CPU-s
    # over the unsplittable bench file (r16 profile); packing itself is
    # layout-invariant by contract, so the spread cannot change rows
    dd = spread_small(d, "doc_id").select(
        "doc_id",
        text.bpe_token_count("text", merges, n_docs=_doc_count(d, sf_dir))
        .cast("bigint")
        .alias("n_tok"),
    )
    return text.pack_sequences_deterministic(
        dd, "doc_id", "n_tok", budget=128, num_parts=8, seed=11
    ).orderBy("doc_id")


def q_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass exact heavy hitters over document tokens: Misra-Gries
    candidate sketch (superset of every token with count > n/101 under
    any partitioning — the mergeable-summaries guarantee) + broadcast
    exact recount + threshold filter.  The output provably equals the
    exact full-group-by answer, so the DuckDB oracle hash-verifies the
    sketch's guarantee end-to-end — while the Spark plan never shuffles
    the long-tailed raw token column."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(normalize_text("text"), " ")).alias("token"))
    return aggregates.heavy_hitters_exact(toks, "token", k=100).select(
        F.col("item").alias("token"), "count"
    )


def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL distinct estimate per group, VERIFIED against
    the exact count via an error-bound boolean (same pattern as
    agg_approx_distinct; default lgK=12 gives ~1.6% rsd, checked at a
    loose 15% band).  Mergeability of the raw sketches is pinned by
    test_hll_sketch_merge_matches_full; the oracle's literal-TRUE
    column certifies the estimate's accuracy on real data (upgraded
    from rows-only)."""
    li = read_table(spark, sf_dir, "lineitem")
    est = aggregates.hll_sketch_count(
        li, ["l_returnflag"], "l_orderkey", alias="distinct_orders_est"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders",
            (
                F.abs(F.col("distinct_orders_est") - F.col("n_orders"))
                <= 0.15 * F.col("n_orders")
            ).alias("est_ok"),
        )
        .orderBy("l_returnflag")
    )


def q_agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count rollup from MERGED partial sketches —
    the pattern that makes 100 TB rollups affordable: per-(flag,status)
    HLL sketches are built once (e.g. nightly per partition), then
    re-aggregated to per-flag estimates by lossless sketch union
    (hll_union_agg) WITHOUT rescanning the fact table.  Verified like
    the other sketch queries: exact distinct counts beside an
    error-bound boolean on the merged estimate, so a green hash
    certifies that merge-then-estimate stays inside the band (the
    union's losslessness vs one-shot sketching is pinned by
    test_hll_sketch_merge_matches_full)."""
    li = read_table(spark, sf_dir, "lineitem")
    partials = aggregates.hll_sketch_partials(
        li, ["l_returnflag", "l_linestatus"], "l_orderkey"
    )
    merged = aggregates.hll_merge(partials, ["l_returnflag"], alias="est")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    return (
        exact.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders",
            (F.abs(F.col("est") - F.col("n_orders")) <= 0.15 * F.col("n_orders")).alias(
                "est_ok"
            ),
        )
        .orderBy("l_returnflag")
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase) as
    conditional-min aggregates chained by per-user joins — each stage
    is one shuffle on user_id, no per-user event collection, so a
    billion-user funnel stays distributed.  The step-typed event slice
    is materialized once — the three stage branches and the chained
    joins otherwise re-scan the raw table six times (r6 scan audit)."""
    e = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
        .transform(tracked_cache)
    )
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stage = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("stage"), F.count("*").alias("users")
    )
    return (
        stage(t1, "1_view")
        .union(stage(t2, "2_click"))
        .union(stage(t3, "3_purchase"))
        .orderBy("stage")
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    distinct-active counted per week offset.  Two shuffles (per-user
    min, then cohort-grid count-distinct)."""
    e = read_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = e.select("user_id", wk.alias("wk")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


def q_agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: stddev/variance/corr/covar/
    skewness/kurtosis per group.

    Spark's skewness/kurtosis are population moments; DuckDB's are
    bias-corrected sample moments.  Converted Spark-side with the exact
    factors (G1 = g1·√(n(n−1))/(n−2); G2 = (n−1)/((n−2)(n−3))·
    ((n+1)·g2 + 6)) so both engines emit the sample statistic."""
    li = read_table(spark, sf_dir, "lineitem")
    n = F.col("n").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_qp"),
            F.skewness("l_quantity").alias("_g1"),
            F.kurtosis("l_quantity").alias("_g2"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "sd_qty",
            "var_qty",
            "corr_qp",
            "covar_qp",
            F.round(
                F.col("_g1") * F.sqrt(n * (n - 1)) / (n - 2), 6
            ).alias("skew_qty"),
            F.round(
                (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * F.col("_g2") + 6), 6
            ).alias("kurt_qty"),
            "n",
        )
        .orderBy("l_returnflag")
    )


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): serialize → parse_json
    into an open-schema variant → typed path extraction.  The scale
    story: variant columns shred into parquet without a fixed schema,
    and extraction pushes into the scan."""
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    j = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderpriority").alias("prio"),
                F.struct(F.col("o_orderstatus").alias("s")).alias("nested"),
            )
        ).alias("payload"),
    )
    v = j.select("o_orderkey", F.parse_json("payload").alias("v"))
    return v.select(
        "o_orderkey",
        F.expr("variant_get(v, '$.price', 'double')").alias("price"),
        F.expr("variant_get(v, '$.prio', 'string')").alias("prio"),
        F.expr("variant_get(v, '$.nested.s', 'string')").alias("status"),
    ).orderBy("o_orderkey")


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery decorrelated to an
    aggregate + equi-join back onto the derived relation.

    The reference schema has no ``partsupp``; supply cost is derived as
    the minimum observed unit price per (part, supplier) — ``min`` over
    exact doubles is accumulation-order-independent, so the equality
    join against the per-part minimum is bit-stable across engines."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = read_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    eligible = (
        supply.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    mincost = eligible.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("supplycost").alias("mc")
    )
    return (
        eligible.join(
            mincost,
            (F.col("l_partkey") == F.col("mk")) & (F.col("supplycost") == F.col("mc")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supplycost", 2).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio per
    order year over a 7-way join (nation joined twice)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.try_divide(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))),
                    F.sum(vol),
                ),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year.

    No ``partsupp.ps_supplycost`` in the schema — cost is proxied as 60%
    of ``p_retailprice`` per unit, keeping the profit expression's
    fact×dim arithmetic shape."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = read_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-by + scalar-subquery HAVING threshold.

    Stock value is the total quantity shipped by NATION_1 suppliers per
    part.  The HAVING keeps parts holding more than 2× the average
    stock value — a *relative* threshold (``value * part_count > 2 *
    total``) so the query returns a non-trivial result at every scale
    factor (TPC-H's literal ``0.0001`` fraction goes empty once part
    count outgrows it).  All-bigint arithmetic on both engines — no
    float-threshold flakiness."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    scoped = li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    per_part = scoped.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("value")
    )
    total = per_part.agg(
        F.sum("value").alias("tot"), F.count("*").alias("cnt")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value") * F.col("cnt") > F.lit(2) * F.col("tot"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


def q_tpch_q12_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts per shipping class.

    No ``l_shipmode``/``l_receiptdate`` in the schema — the class is
    derived from shipping latency (shipdate − orderdate), keeping the
    group-by-derived-column + CASE-sum shape."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    slow = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.when(slow, "SLOW").otherwise("FAST").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def q_tpch_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join preserving order-less customers,
    then a second aggregation over the first's result (count distribution)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    counts = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-project of the fact table as the
    part↔supplier relation, NOT-IN decorrelated to a broadcast anti
    join, count-distinct per part attribute triple."""
    li = read_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30))
    )
    complaints = read_table(spark, sf_dir, "supplier").where(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated to an
    aggregate + join, filtering rows below 20% of their group's mean."""
    p = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") < 10)
    )
    li = read_table(spark, sf_dir, "lineitem")
    scoped = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    lim = scoped.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_lim")
    )
    return (
        scoped.join(F.broadcast(lim), F.col("l_partkey") == F.col("ak"))
        .where(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity predicate
    triples across the join — tests OR-predicate handling and partial
    pushdown (the part-only conjuncts prune the broadcast side)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#18")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: doubly-nested subquery — suppliers of red parts
    who shipped more than half of a part's 1997 volume, semi-joined to
    the NATION_1 supplier list.  The ``qty*2 > tot`` comparison is exact
    bigint arithmetic (no float threshold)."""
    p = read_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    scoped = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    pair_qty = scoped.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty")
    )
    part_tot = pair_qty.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("qty").alias("tot")
    )
    dominant = (
        pair_qty.join(part_tot, F.col("l_partkey") == F.col("tk"))
        .where(F.col("qty") * 2 > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS self-joins with non-equi
    residuals — the sole late supplier on multi-supplier finished
    orders.  Lateness is shipdate > orderdate + 60 days (the schema has
    no commit/receipt dates)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    sole_late = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ===========================================================================
# scalar / aggregate function surfaces (breadth coverage of the built-in
# function library, each paired with a DuckDB oracle)
# ===========================================================================


def q_hof_array_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / exists /
    aggregate / zip_with over the embedding column, all JVM-side
    (no Python UDF in the plan)."""
    e = read_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    dbl = F.transform(emb, lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.round(F.element_at(F.transform(dbl, lambda x: F.round(x * 2, 4)), 1), 4).alias(
            "first_doubled"
        ),
        F.size(F.filter(dbl, lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.exists(dbl, lambda x: x > 0.9).alias("has_big"),
        F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4).alias("vsum"),
        F.round(
            F.aggregate(
                F.zip_with(dbl, dbl, lambda a, b: a * b),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            4,
        ).alias("norm_sq"),
    )


def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface: trunc, parts, last_day, add_months,
    datediff, epoch seconds, formatting."""
    o = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).alias("month_start"),
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.dayofweek(d).cast("bigint").alias("dow"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 3).cast("timestamp").alias("plus3mo"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date"))
        .cast("bigint")
        .alias("days_to_y2k"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


def q_string_functions_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: levenshtein, pad/repeat/reverse, translate,
    split_part, strpos, left/right, printf formatting."""
    d = read_table(spark, sf_dir, "documents")
    s = F.col("source")
    return d.select(
        "doc_id",
        F.levenshtein(s, F.lit("webcrawl")).cast("bigint").alias("lev_web"),
        F.lpad(F.col("lang"), 5, "_").alias("lang_pad"),
        F.rpad(F.col("lang"), 5, "*").alias("lang_rpad"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
        F.reverse(s).alias("src_rev"),
        F.translate(s, "aeiou", "AEIOU").alias("src_vowel"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.instr(s, "a").cast("bigint").alias("first_a"),
        F.substring(s, 1, 3).alias("src3"),
        F.format_string("%05d", F.col("doc_id")).alias("id5"),
        F.concat_ws("|", F.col("lang"), s).alias("lang_src"),
    )


def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates: count_if, bool_and/bool_or, filtered sums,
    and max_by/min_by with a composite (value, key) order for
    deterministic tie-breaks."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")
                    ).otherwise(F.lit(0.0))
                ),
                2,
            ).alias("urgent_spend"),
            F.max_by(
                "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
            ).alias("priciest_order"),
            F.min_by(
                "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
            ).alias("cheapest_order"),
        )
        .orderBy("o_orderstatus")
    )


def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → dedup → sort → join: deterministic array aggregation
    rendered as a string so the oracle compare stays scalar."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.array_sort(F.array_distinct(F.collect_list("o_orderpriority"))), ","
            ).alias("priorities"),
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.collect_list(F.year("o_orderdate").cast("string"))
                    )
                ),
                ",",
            ).alias("active_years"),
        )
        .orderBy("o_custkey")
    )


def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: extract, extract_all + count, boolean match."""
    d = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.regexp_extract(t, r"([A-Za-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all(t, F.lit(r"(\d+)"), 1))
        .cast("bigint")
        .alias("n_numbers"),
        t.rlike(r"\d").alias("has_digit"),
        F.regexp_replace(t, r"\d+", "#").alias("masked"),
    )


def q_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization in pure SQL-window form: a new
    session starts after a >30-minute silence; one shuffle on user_id."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long"), 1, None).over(w)
            > 1800
        )
        .cast("int")
        .alias("new_sess"),
    ).fillna({"new_sess": 1})
    sess = gapped.withColumn(
        "session_id", F.sum("new_sess").over(w).cast("bigint")
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
            F.round(F.sum("value"), 2).alias("sess_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-MERGE-shaped upsert (operators/upsert.py): the latest order
    per customer from 1997-07-01 onward merged over the pre-cutoff
    snapshot — matched keys updated, new keys inserted."""
    o = read_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"]
    cut = F.lit("1997-07-01").cast("timestamp")

    def latest(df: DataFrame) -> DataFrame:
        return windows.top_k_per_group(
            df.select(*cols),
            ["o_custkey"],
            [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
            1,
        )

    base = latest(o.where(F.col("o_orderdate") < cut))
    updates = latest(o.where(F.col("o_orderdate") >= cut))
    return upsert.upsert(base, updates, ["o_custkey"], flag_col="updated")


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) OHLC downsample — associative min_by/max_by
    partials instead of a window sort over raw events."""
    e = read_table(spark, sf_dir, "events")
    return timeseries.resample_ohlc(
        e, ["event_type"], "ts", "event_id", "value", unit="day"
    )


def q_events_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour/day/week rollups where
    each coarser grain folds the finer grain's associative partials
    (count/sum/min/max) — the raw events are scanned exactly once."""
    e = read_table(spark, sf_dir, "events")
    return timeseries.rollup_hypertable(
        e, ["event_type"], "ts", "value", grains=("hour", "day", "week")
    )


def q_events_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel detail (the row-level companion to the
    aggregated events_funnel): first completion time of each step
    strictly after the previous one, plus the highest stage reached —
    via the generic timeseries.funnel operator."""
    e = read_table(spark, sf_dir, "events")
    return timeseries.funnel(
        e, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def q_timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (alpha=0.3) through the Arrow
    stateful path — hash-verified: the applyInPandas kernel applies the
    recurrence in a fixed double-op order that the oracle's recursive
    CTE replays bit-for-bit."""
    e = read_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    e = e.select("user_id", "event_id", F.col("value").cast("double").alias("value"))
    return timeseries.ewma(
        e, key_col="user_id", order_cols=["event_id"], value_col="value", alpha=0.3
    )


def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user activity with missing hours materialized (count 0)
    and the rolling average forward-filled from the last active hour."""
    e = read_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    return timeseries.gapfill(
        hourly,
        "user_id",
        "hr",
        step="interval 1 hour",
        count_col="n_events",
        ffill_cols=["avg_value"],
    )


def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5) — stats pass +
    broadcast join back, not a window over raw events."""
    e = read_table(spark, sf_dir, "events")
    return timeseries.zscore_outliers(
        e.select("event_id", "event_type", "value"), ["event_type"], "value", 2.5
    ).select("event_id", "event_type", "value", "z")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by log-free tf-idf
    (operators/text.tfidf_top_terms)."""
    d = read_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, k=3)


def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket fixed-width histogram of order totals
    (aggregates.histogram_fixed; single shuffle, codegen'd bucket expr)."""
    o = read_table(spark, sf_dir, "orders")
    return aggregates.histogram_fixed(o, "o_totalprice", 0.0, 600000.0, 20)


def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% test split of lineitem by id-hash bucket
    (operators/sampling.hash_split) — reproducible across cluster
    layouts, unlike seeded RNG sampling; pure narrow filter.  A
    guarded spread was A/B-tested here and REVERTED (r16): shuffling
    the 40 MB row payload cost more than parallelizing the 1.8 CPU-s
    of per-row md5 saved (1.53 → 1.81 s min-of-legs)."""
    li = read_table(spark, sf_dir, "lineitem")
    rowid = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    from yet_another_map_reduce_spark.operators import sampling

    return sampling.hash_split(li, rowid, 0, 100).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle (sampling.deterministic_
    shuffle): the reproducible 'shuffle the training data' pass; the
    emitted shuffle_key pins the whole permutation for the oracle."""
    d = read_table(spark, sf_dir, "documents")
    from yet_another_map_reduce_spark.operators import sampling

    return sampling.deterministic_shuffle(d, "doc_id", seed=7).select(
        "doc_id", "shuffle_key"
    )


def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling by language (sampling.mixture_sample):
    en upsampled 1.5x, zh 2x, fr/es downsampled — the mixing step that
    turns a raw corpus into a training mixture; pure hash decisions,
    no RNG state."""
    d = read_table(spark, sf_dir, "documents")
    from yet_another_map_reduce_spark.operators import sampling

    weights = {"en": 1.5, "de": 1.0, "fr": 0.5, "es": 0.25, "zh": 2.0}
    return (
        sampling.mixture_sample(d, "lang", "doc_id", weights, seed=3)
        .select("doc_id", "lang", "copy_id")
        .orderBy("doc_id", "copy_id")
    )


def q_corpus_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven mixture: weights COMPUTED from the corpus (downsample
    every language to the smallest language's character budget), then
    applied via hash-deterministic sampling — the at-scale shape where
    mixture weights come out of an aggregation, not a hand-typed
    literal (sampling.mixture_sample_by_weights)."""
    d = read_table(spark, sf_dir, "documents")
    from yet_another_map_reduce_spark.operators import sampling

    totals = d.groupBy("lang").agg(F.sum("n_chars").alias("chars"))
    mn = totals.agg(F.min("chars").alias("mn"))
    weights = totals.join(F.broadcast(mn)).select(
        "lang", (F.col("mn") / F.col("chars")).alias("weight")
    )
    out = sampling.mixture_sample_by_weights(d, "lang", "doc_id", weights, seed=11)
    return out.select("doc_id", "lang", "copy_id").orderBy("doc_id", "copy_id")


def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test splitting, demonstrated as a
    diagnostic: split the corpus two ways — keyed by doc_id (naive)
    and keyed by the content fingerprint — and count duplicate
    CONTENT CLASSES that straddle splits under each strategy.  An
    id-keyed split assigns copies of the same text independently, so
    duplicates leak train→test (the classic eval-contamination bug);
    a fingerprint-keyed split cannot leak by construction (all copies
    share the hash, hence the split).  The corpus has no exact dups at
    verification scale, so the query plants copies of the first 50
    docs under new ids — same seeded-demo pattern as text_redact_pii.

    Scale shape: the corpus reduces immediately to a narrow
    (doc_id, cls) relation; both counts are hash aggs with map-side
    partials over fixed-width keys — no text ever shuffles."""
    d = read_table(spark, sf_dir, "documents")
    dup = d.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    base = (
        d.select("doc_id", "text")
        .unionByName(dup)
        .select("doc_id", F.md5(normalize_text("text")).alias("cls"))
    )

    def bucketize(key):
        b = F.pmod(md5_hash64(key, seed=5), F.lit(1000))
        return (
            F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
        )

    tagged = base.withColumn(
        "split", bucketize(F.col("doc_id").cast("string"))
    ).withColumn("strategy", F.lit("by_id")).unionByName(
        base.withColumn("split", bucketize(F.col("cls"))).withColumn(
            "strategy", F.lit("by_fingerprint")
        )
    )
    per_split = tagged.groupBy("strategy", "split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cls").cast("bigint").alias("n_classes"),
    )
    leaked = (
        tagged.select("strategy", "cls", "split")
        .distinct()
        .groupBy("strategy", "cls")
        .agg(F.count("*").alias("ns"))
        .groupBy("strategy")
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked_classes")
        )
    )
    return (
        per_split.join(F.broadcast(leaked), "strategy")
        .select(
            "strategy", "split", "n_docs", "n_classes", "n_leaked_classes"
        )
        .orderBy("strategy", "split")
    )


def q_pipeline_autocurate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-in-the-loop curation, end to end: train the quality/
    language classifier ON the corpus (3 batch-perceptron iterations),
    score every document with the learned weights, and report per-lang
    keep/drop counts with the mean margin of kept docs — the composed
    shape of learned filtering (fastText-style quality gates), where
    the filter itself is fitted on the data it curates.  Everything
    stays one narrow feature relation: train aggregates it per
    iteration, scoring is map-only with the model as literals, the
    report is one hash agg."""
    d = read_table(spark, sf_dir, "documents")
    feats = _classifier_features(d)
    model = classify.perceptron_train(
        feats, "y", _CLASSIFIER_FEATURE_COLS, iterations=3
    ).collect()
    last = max(model, key=lambda r: r["iteration"])
    weights = [last[f"w{k}"] for k in range(len(_CLASSIFIER_FEATURE_COLS) + 1)]
    scored = classify.perceptron_score(
        feats, weights, _CLASSIFIER_FEATURE_COLS, "doc_id"
    ).join(d.select("doc_id", "lang"), "doc_id")
    return (
        scored.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("predicted") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("predicted") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.round(
                F.avg(F.when(F.col("predicted") == 1, F.col("margin"))), 4
            ).alias("kept_mean_margin"),
        )
        .orderBy("lang")
    )


def q_corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing — the multilingual
    training rule (mT5/XLM-R): target share q_l ∝ n_l^α with α=0.7,
    sampling rate r_l = q_l / s_l against the actual share s_l, so
    rare languages upsample and dominant ones downsample while the
    expected corpus size is preserved exactly (Σ r_l·n_l = N).  The
    rates come out of one tiny aggregate (languages × 2 numbers),
    broadcast onto the corpus through the same hash-deterministic
    replication as every mixture query — no RNG state, exact oracle.

    Residual cross-engine divergence class (same family as the F.round
    shortest-repr note in quantize.py): ``pow(n, 0.7)`` is Java
    Math.pow on the Spark side and the platform libm on DuckDB's, and
    IEEE 754 does not require pow to be correctly rounded — and the
    divergence is REAL on this platform (pow(82, 0.7) differs by ~2
    ulp between the engines), which would flip ``round(weight, 6)``
    (and downstream copy counts) if a weight sat exactly on a rounding
    boundary.  The corpus's actual weights sit far from every
    boundary, and
    tests/test_quantize.py::test_temperature_pow_weights_off_rounding_boundary
    pins that margin against the live data + both engines, so a
    platform libm change surfaces as a test failure, not a silent
    hash mismatch."""
    d = read_table(spark, sf_dir, "documents")
    from yet_another_map_reduce_spark.operators import sampling

    alpha = 0.7
    totals = d.groupBy("lang").agg(F.count("*").alias("n"))
    pw = totals.select("lang", "n", F.pow(F.col("n"), F.lit(alpha)).alias("pn"))
    tot = pw.agg(F.sum("n").alias("nn"), F.sum("pn").alias("z"))
    weights = pw.join(F.broadcast(tot)).select(
        "lang",
        F.round(
            (F.col("pn") / F.col("z")) / (F.col("n") / F.col("nn")), 6
        ).alias("weight"),
    )
    out = sampling.mixture_sample_by_weights(d, "lang", "doc_id", weights, seed=7)
    return out.select("doc_id", "lang", "copy_id").orderBy("doc_id", "copy_id")


def q_sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable uniform 5-row sample per market segment
    (operators/sampling.reservoir_per_group): hash-rank, keep smallest;
    size-gated so big corpora take the local-top-k tier (no corpus
    exchange) instead of a 5-partition group window."""
    c = read_table(spark, sf_dir, "customer")
    from yet_another_map_reduce_spark.operators import sampling

    return sampling.reservoir_per_group(
        c.select("c_custkey", "c_name", "c_mktsegment"), ["c_mktsegment"], "c_custkey", 5
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 history build (windows.validity_intervals): each
    customer's order stream becomes validity intervals
    [valid_from, valid_to) with the latest row left open."""
    o = read_table(spark, sf_dir, "orders")
    hist = windows.validity_intervals(
        o.select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"),
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "o_orderdate",
    )
    return hist.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        "valid_to",
        (F.col("valid_to") == F.lit("2199-12-31").cast("timestamp")).alias("is_current"),
    )


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of orders (aggregates.profile_columns): one
    aggregate pass, one output row per profiled column."""
    o = read_table(spark, sf_dir, "orders")
    return aggregates.profile_columns(
        o, ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def q_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (AND/OR/XOR/shifts/popcount/NOT) over the
    order key."""
    o = read_table(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_orderkey",
        "o_orderkey & 255 AS band",
        "o_orderkey | 4096 AS bor",
        "o_orderkey ^ 12345 AS bxor",
        "shiftleft(o_orderkey, 3) AS shl",
        "shiftright(o_orderkey, 2) AS shr",
        "CAST(bit_count(o_orderkey) AS BIGINT) AS popcount",
        "~o_orderkey AS bnot",
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (operators/graph.pagerank) over the bipartite
    customer↔supplier trade graph (both directions; customers get even
    node ids, suppliers odd)."""
    from yet_another_map_reduce_spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return (
        graph.pagerank(edges, iterations=3, assume_distinct=True)
        .select("node", F.col("rank").alias("pr"))
        .orderBy("node")
    )


def q_graph_pagerank_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-DataFrame twin of ``graph_pagerank``: identical power
    iteration with ``checkpoint_ranks=False`` — lineage is never
    truncated, the plan re-nests per round.  Since round 6 the default
    path checkpoints only every ``checkpoint_interval=10`` rounds (the
    r5 every-round eager checkpointing was measured 2.2× slower at 3
    iterations — see BASELINE.md), so at 3 iterations the two queries
    compile to the same plan; the twin stays registered to pin that
    equivalence as a measured bench row and to guard the re-nesting
    path for deep-iteration users."""
    from yet_another_map_reduce_spark.operators import graph

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return (
        graph.pagerank(
            edges, iterations=3, assume_distinct=True, checkpoint_ranks=False
        )
        .select("node", F.col("rank").alias("pr"))
        .orderBy("node")
    )


def q_udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map UDF (udxf.cogrouped_order_fill) on a 0.1%-of-keys
    hash slice (the cogroup API pays per-group Python overhead — the
    demo exercises the shape, not the volume); fixed-point net revenue
    converted to dollars engine-side."""
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 1000 == 0)
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 1000 == 0)
    from yet_another_map_reduce_spark.operators import udxf

    return udxf.cogrouped_order_fill(o, li).withColumn(
        "net_revenue", F.round(F.col("net_fp") / 10000.0, 2)
    )


def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: trailing 1-hour sum per user — frames
    defined by the timestamp axis (peers included), not row counts."""
    e = read_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(
            "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)"
        ).alias("trailing_1h"),
    )


def q_window_value_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame on a numeric axis: for each order, the
    count and total of same-customer orders priced within ±1000 of it —
    frames defined by the measure's value, not row offsets."""
    o = read_table(spark, sf_dir, "orders")
    frame = (
        "OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(f"CAST(count(*) {frame} AS BIGINT)").alias("n_near"),
        F.expr(f"round(sum(o_totalprice) {frame}, 2)").alias("near_total"),
    )


def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping()/grouping_id() marker columns — the
    disambiguators that tell a NULL group key from a subtotal row."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


def q_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar surface: nullif / ifnull / coalesce chains /
    IS [NOT] NULL predicates."""
    o = read_table(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_orderkey",
        "nullif(o_orderstatus, 'O') AS status_or_null",
        "ifnull(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled",
        "coalesce(nullif(o_orderpriority, '1-URGENT'), nullif(o_orderstatus, 'F'), 'both-hit') AS first_nonnull",
        "nullif(o_orderstatus, 'O') IS NULL AS was_open",
        "nullif(o_orderstatus, 'O') IS NOT NULL AS was_not_open",
    )


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: construct, size, key/value introspection, and
    typed element access."""
    o = read_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    return o.select(
        "o_orderkey",
        F.size(m).cast("bigint").alias("map_size"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.array_join(F.map_values(m), ",").alias("vals_csv"),
        F.element_at(m, "prio").alias("prio_val"),
    )


def q_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max + z-score feature scaling per group — the stats pass /
    broadcast-join-back shape (no window over raw rows): the standard
    normalization step before embedding or model training."""
    li = read_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("__lo"),
        F.max("l_extendedprice").alias("__hi"),
        F.round(F.avg("l_extendedprice"), 6).alias("__mu"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("__sigma"),
    )
    return (
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round(
                F.try_divide(
                    F.col("l_extendedprice") - F.col("__lo"),
                    F.col("__hi") - F.col("__lo"),
                ),
                6,
            ).alias("minmax"),
            F.round(
                F.try_divide(
                    F.col("l_extendedprice") - F.col("__mu"), F.col("__sigma")
                ),
                4,
            ).alias("zscore"),
        )
    )


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation: keep documents above the 75th quality percentile
    WITHIN their language — per-group relative cutoffs, not a global
    threshold.  A plain ``Window.partitionBy(lang)`` percent_rank is a
    scale bug with a handful of languages (every window partition is
    data-sized — one task per language at 100 TB), so the rank comes
    from ``sorts.grouped_ranked_adaptive``: the single range-partition
    exchange of ``global_ranked`` plus a broadcast groups-sized summary,
    identical ranks, skew-free.  percent_rank ≡ (rank-1)/(n_group-1),
    the SQL-standard definition, computed on exact ranks."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", text.quality_score("text").alias("q")
    )
    ranked = sorts.grouped_ranked_adaptive(
        scored,
        ["lang"],
        [F.col("q").asc(), F.col("doc_id").asc()],
        "__r",
        group_total_col="__gn",
    )
    pr = F.when(
        F.col("__gn") > 1,
        (F.col("__r") - 1).cast("double") / (F.col("__gn") - 1),
    ).otherwise(F.lit(0.0))
    return (
        ranked.withColumn("pr", F.round(pr, 6))
        .where(F.col("pr") >= 0.75)
        .select("doc_id", "lang", "q", "pr")
    )


_CLASSIFIER_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def with_classifier_features(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the four exact-count quality features to ``d`` KEEPING
    the payload — the form a gate consumer needs (classify.quality_gate
    keeps its input's columns, and the ingest pipeline still needs the
    text downstream for embedding).  This is THE single definition of
    the feature expressions: the trainer's projection, the throughput
    script, and the ingest tests all derive from it, so a change to the
    stopword list or the punctuation regex can never train on one
    feature set and score on another.  ``text_col`` names the document
    column (the ingest pipeline threads its own through, r11 ADVICE)."""
    toks = F.split(normalize_text(text_col), " ")
    return d.withColumns(
        {
            "f_tokens": F.size(toks),
            "f_chars": F.length(normalize_text(text_col)),
            "f_stop": F.size(
                F.filter(toks, lambda t: t.isin(*_CLASSIFIER_STOPWORDS))
            ),
            "f_punct": F.length(
                F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", "")
            ),
        }
    )


def _classifier_features(d: DataFrame) -> DataFrame:
    """Labeled integer features for the quality-classifier demos:
    y = ±1 on the language label plus :func:`with_classifier_features`'
    four exact-count features (integer-exact on both engines, so the
    training loop is hash-verifiable)."""
    return with_classifier_features(d).select(
        F.col("doc_id"),
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        *_CLASSIFIER_FEATURE_COLS,
    )


_CLASSIFIER_FEATURE_COLS = ["f_tokens", "f_chars", "f_stop", "f_punct"]


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a quality/language classifier ON the corpus, distributed:
    batch perceptron (`classify.perceptron_train`) over exact integer
    text features, labeled by the `lang` column (en vs rest).  Each
    iteration is one corpus aggregate with map-side partials; the
    model (6 longs) lives driver-side; integer arithmetic makes the
    full training trajectory bit-reproducible, so the oracle replays
    all three iterations as nested CTEs and hash-matches weights."""
    d = read_table(spark, sf_dir, "documents")
    return classify.perceptron_train(
        _classifier_features(d), "y", _CLASSIFIER_FEATURE_COLS, iterations=3
    )


def q_quality_classifier_train_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Averaged perceptron at a realistic iteration count (5): the
    production arm of classifier training
    (`classify.perceptron_train_averaged`) — identical per-iteration
    aggregate to the plain trainer, plus an integer-exact running sum
    of the weight vectors; production scores with the last row's `s`
    vector (sign-equivalent to the true average, no division, so the
    ENTIRE trajectory including the averages replays as nested CTEs
    and hash-matches)."""
    d = read_table(spark, sf_dir, "documents")
    return classify.perceptron_train_averaged(
        _classifier_features(d), "y", _CLASSIFIER_FEATURE_COLS, iterations=5
    )


def q_quality_classifier_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (3 batch-perceptron iterations, as above), then score the
    whole corpus with the final weights — the apply half is map-only
    with the model as plan literals, the same ship-the-model shape as
    k-means assignment.  Returns (doc_id, margin, predicted)."""
    d = read_table(spark, sf_dir, "documents")
    feats = _classifier_features(d)
    model = classify.perceptron_train(
        feats, "y", _CLASSIFIER_FEATURE_COLS, iterations=3
    ).collect()
    last = max(model, key=lambda r: r["iteration"])
    weights = [last[f"w{k}"] for k in range(len(_CLASSIFIER_FEATURE_COLS) + 1)]
    return classify.perceptron_score(
        feats, weights, _CLASSIFIER_FEATURE_COLS, "doc_id"
    )


# ===========================================================================
# oracle SQL (DuckDB)
# ===========================================================================


def _pagerank_sql(iters: int = 3) -> str:
    """Chained-CTE power iteration mirroring graph.pagerank: per-iteration
    round(…, 6) keeps both engines' double accumulation bit-aligned."""
    prev = "r0"
    its = []
    for i in range(1, iters + 1):
        its.append(
            f"""
        it{i} AS (
            SELECT n.node,
                   round(CAST(0.85 AS DOUBLE) * coalesce(s.m, 0)
                         + CAST(0.15 AS DOUBLE), 6) AS pr
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.pr / d.g) AS m
                FROM edges e
                JOIN {prev} r ON e.src = r.node
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst) s ON n.node = s.node)"""
        )
        prev = f"it{i}"
    joined = ",".join(its)
    return f"""
        WITH pairs AS (
            SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pairs
                  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        deg AS (SELECT src, count(*) AS g FROM edges GROUP BY src),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
        {joined}
        SELECT node, pr FROM it{iters} ORDER BY node
    """


def _minhash_cte() -> str:
    """Shared CTE chain: docs → shingles → 12-hash signatures.

    Mirrors dedup.minhash_signatures: one md5 per shingle, i-th hash =
    h_a + i*h_b (Kirsch-Mitzenmacher)."""
    sig_elems = ", ".join(f"min(ha + {i} * hb)" for i in range(12))
    return f"""
        docs AS (SELECT doc_id, string_split({_norm('text')}, ' ') AS w FROM documents),
        sh AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' ')) AS s
            FROM docs WHERE len(w) >= 3
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(u.sng), 1, 15))::BIGINT AS ha,
                   ('0x' || substr(md5(u.sng), 16, 8))::BIGINT AS hb
            FROM (SELECT doc_id, unnest(s) AS sng FROM sh) u
        ),
        sig AS (SELECT doc_id, [{sig_elems}] AS sig FROM hashed GROUP BY doc_id)
    """


def _banded_cte(max_bucket: int = 1000) -> str:
    # the bucket-size filter mirrors minhash_lsh_pairs(max_bucket_size=...):
    # oversized (band, band_sig) buckets are excluded from candidate
    # generation on BOTH sides, so the oracle and Spark stay equivalent
    # by construction even on a corpus with degenerate boilerplate
    return f"""
        WITH {_minhash_cte()},
        banded AS (
            SELECT doc_id, band, band_sig FROM (
                SELECT doc_id, b.i AS band,
                       concat_ws('_', sig[b.i*3+1], sig[b.i*3+2], sig[b.i*3+3]) AS band_sig,
                       count(*) OVER (PARTITION BY b.i,
                           concat_ws('_', sig[b.i*3+1], sig[b.i*3+2], sig[b.i*3+3])) AS bn
                FROM sig, generate_series(0, 3) AS b(i)
            ) WHERE bn <= {max_bucket}
        )
    """


def _simhash_sql(bits: int = 32) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(bits))
    return f"""
        WITH d AS (
            SELECT doc_id, list_distinct(string_split({_norm('text')}, ' ')) AS toks
            FROM documents WHERE doc_id < 200
        ),
        t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        h AS (SELECT doc_id, {_sql_hash64('tok')} AS hv FROM t),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v
    """


_TEXT_NORM = _norm("text")
_N_TOK = f"len(string_split({_TEXT_NORM}, ' '))"
_SUBTOK_PREP = (
    "regexp_replace(regexp_replace(lower(text), '([a-z])([0-9])', '\\1 \\2', 'g'),"
    " '([0-9])([a-z])', '\\1 \\2', 'g')"
)
_STOPLIST = "('the','a','an','and','or','of','to','in','is','it')"
_SW_RATIO = (
    f"round(len(list_filter(string_split({_TEXT_NORM}, ' '), t -> t IN {_STOPLIST})) * 1.0"
    f" / greatest({_N_TOK}, 1), 6)"
)
_PUNCT_RATIO = (
    "round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0"
    " / greatest(length(text), 1), 6)"
)
_MWL = (
    f"round((length({_TEXT_NORM}) - ({_N_TOK} - 1)) * 1.0 / greatest({_N_TOK}, 1), 6)"
)

_QUALITY_SQL = (
    f"round(least({_SW_RATIO} * 4, 1.0) * 0.4"
    f" + (1.0 - least({_PUNCT_RATIO} * 5, 1.0)) * 0.3"
    f" + (CASE WHEN {_MWL} >= 3 AND {_MWL} <= 8 THEN 1.0 ELSE 0.3 END) * 0.3, 6)"
)

_CLASSIFIER_FEATS_SQL = f"""
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
                    ELSE CAST(-1 AS BIGINT) END AS y,
               CAST(1 AS BIGINT) AS x0,
               CAST({_N_TOK} AS BIGINT) AS x1,
               CAST(length({_TEXT_NORM}) AS BIGINT) AS x2,
               CAST(len(list_filter(string_split({_TEXT_NORM}, ' '),
                        t -> t IN {_STOPLIST})) AS BIGINT) AS x3,
               CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                    AS BIGINT) AS x4
        FROM documents
"""


def _perceptron_ctes(iters: int = 3, nw: int = 5) -> str:
    """Nested-CTE replay of classify.perceptron_train over the
    classifier demo features: integer arithmetic end-to-end, so every
    iteration's weights hash-match the distributed trainer exactly."""
    ctes = [
        f"feats AS ({_CLASSIFIER_FEATS_SQL})",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{k}" for k in range(nw))
        + ")",
    ]
    for it in range(1, iters + 1):
        prev = f"w{it - 1}"
        margin = " + ".join(f"{prev}.w{k} * f.x{k}" for k in range(nw))
        gsums = ", ".join(
            f"CAST(SUM(CASE WHEN f.y * ({margin}) <= 0"
            f" THEN f.y * f.x{k} ELSE 0 END) AS BIGINT) AS g{k}"
            for k in range(nw)
        )
        ctes.append(
            f"g{it} AS (SELECT CAST(SUM(CASE WHEN f.y * ({margin}) <= 0"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS n_mis, {gsums}"
            f" FROM feats f, {prev})"
        )
        wcols = ", ".join(
            f"{prev}.w{k} + g{it}.g{k} AS w{k}" for k in range(nw)
        )
        ctes.append(f"w{it} AS (SELECT {wcols} FROM {prev}, g{it})")
    return "WITH " + ",\n".join(ctes)


def _perceptron_train_sql(iters: int = 3, nw: int = 5) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({it} AS BIGINT) AS iteration, g{it}.n_mis, "
        + ", ".join(f"w{it}.w{k}" for k in range(nw))
        + f" FROM g{it}, w{it}"
        for it in range(1, iters + 1)
    )
    return f"{_perceptron_ctes(iters, nw)}\n{selects}\nORDER BY iteration"


def _perceptron_train_avg_sql(iters: int = 5, nw: int = 5) -> str:
    """The averaged-perceptron trajectory replay: the plain trainer's
    nested CTEs plus cumulative weight sums s{it} = s{it-1} + w{it} —
    integer arithmetic throughout, so the averages hash-match the
    distributed trainer exactly (perceptron_train_averaged)."""
    ctes = [_perceptron_ctes(iters, nw)]
    ctes.append(
        ", s0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(nw))
        + ")"
    )
    for it in range(1, iters + 1):
        scols = ", ".join(
            f"s{it - 1}.s{k} + w{it}.w{k} AS s{k}" for k in range(nw)
        )
        ctes.append(f", s{it} AS (SELECT {scols} FROM s{it - 1}, w{it})")
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({it} AS BIGINT) AS iteration, g{it}.n_mis, "
        + ", ".join(f"w{it}.w{k}" for k in range(nw))
        + ", "
        + ", ".join(f"s{it}.s{k}" for k in range(nw))
        + f" FROM g{it}, w{it}, s{it}"
        for it in range(1, iters + 1)
    )
    return "".join(ctes) + f"\n{selects}\nORDER BY iteration"


def _perceptron_apply_sql(iters: int = 3, nw: int = 5) -> str:
    margin = " + ".join(f"w.w{k} * f.x{k}" for k in range(nw))
    return f"""{_perceptron_ctes(iters, nw)}
        SELECT f.doc_id,
               CAST({margin} AS BIGINT) AS margin,
               CASE WHEN ({margin}) > 0 THEN 1 ELSE -1 END AS predicted
        FROM feats f, w{iters} w
        ORDER BY f.doc_id
    """

_LANG_SCORES = {
    "en": "('the','and','of','to','is')",
    "es": "('el','la','de','que','y')",
    "fr": "('le','la','et','les','des')",
    "de": "('der','die','und','das','ist')",
}
_LANG_SCORE_EXPRS = {
    lang: f"len(list_filter(string_split({_TEXT_NORM}, ' '), t -> t IN {markers}))"
    for lang, markers in _LANG_SCORES.items()
}
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANG_SCORES) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in _LANG_SCORES
    )
    + " ELSE 'und' END"
)


# Planted variants for the three curation-report rows: the registered
# standalone queries run over _plant_short_docs(documents) so the
# zero-count short-doc contract is hash-verified; the pipeline
# composites below reuse the UNPLANTED builders (src="documents"),
# matching their Spark side which does not plant.
_PLANTED_TEXT_DECONTAMINATE = _decontaminate_oracle(_SQL_PLANTED_DOCS)
_PLANTED_CORPUS_BOILERPLATE_NGRAMS = _boilerplate_oracle(_SQL_PLANTED_DOCS)
_PLANTED_TEXT_BIGRAM_LM = _bigram_lm_oracle(_SQL_PLANTED_DOCS)

ORACLES: dict[str, str] = {
    "feature_scaling": """
        WITH s AS (SELECT l_returnflag,
                          min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
                          round(avg(l_extendedprice), 6) AS mu,
                          round(stddev_samp(l_extendedprice), 6) AS sigma
                   FROM lineitem GROUP BY l_returnflag)
        SELECT l_orderkey, l_linenumber, l.l_returnflag,
               round((l_extendedprice - lo) / nullif(hi - lo, 0), 6) AS minmax,
               round((l_extendedprice - mu) / nullif(sigma, 0), 4) AS zscore
        FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
    """,
    "quality_percentile_filter": f"""
        SELECT doc_id, lang, q, pr FROM (
            SELECT doc_id, lang, q,
                   round(percent_rank() OVER (PARTITION BY lang
                         ORDER BY q ASC, doc_id ASC), 6) AS pr
            FROM (SELECT doc_id, lang, {{quality}} AS q FROM documents))
        WHERE pr >= 0.75
    """.format(quality=_QUALITY_SQL),
    "quality_classifier_train": _perceptron_train_sql(),
    "quality_classifier_train_avg": _perceptron_train_avg_sql(),
    "quality_classifier_apply": _perceptron_apply_sql(),
    "pipeline_autocurate": f"""{_perceptron_ctes()},
        scored AS (
            SELECT f.doc_id,
                   CAST({" + ".join(f"w.w{k} * f.x{k}" for k in range(5))}
                        AS BIGINT) AS margin
            FROM feats f, w3 w
        ),
        langed AS (
            SELECT s.doc_id, s.margin, d.lang,
                   CASE WHEN s.margin > 0 THEN 1 ELSE -1 END AS predicted
            FROM scored s JOIN documents d USING (doc_id)
        )
        SELECT lang,
               CAST(SUM(CASE WHEN predicted = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(SUM(CASE WHEN predicted = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               round(AVG(CASE WHEN predicted = 1 THEN margin END), 4)
                   AS kept_mean_margin
        FROM langed GROUP BY lang ORDER BY lang
    """,
    "window_time_range": """
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4)
                   AS trailing_1h
        FROM events
    """,
    "null_functions": """
        SELECT o_orderkey,
               nullif(o_orderstatus, 'O') AS status_or_null,
               ifnull(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
               coalesce(nullif(o_orderpriority, '1-URGENT'),
                        nullif(o_orderstatus, 'F'), 'both-hit') AS first_nonnull,
               nullif(o_orderstatus, 'O') IS NULL AS was_open,
               nullif(o_orderstatus, 'O') IS NOT NULL AS was_not_open
        FROM orders
    """,
    "map_functions": """
        SELECT o_orderkey,
               CAST(cardinality(m) AS BIGINT) AS map_size,
               array_to_string(map_keys(m), ',') AS keys_csv,
               array_to_string(map_values(m), ',') AS vals_csv,
               m['prio'][1] AS prio_val
        FROM (SELECT o_orderkey,
                     map(['status', 'prio'], [o_orderstatus, o_orderpriority]) AS m
              FROM orders)
    """,
    "graph_pagerank": _pagerank_sql(3),
    "graph_pagerank_cached": _pagerank_sql(3),
    "udf_cogrouped": """
        SELECT o.o_orderkey, o.o_totalprice,
               CAST(coalesce(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))), 0)
                    AS BIGINT) AS net_fp,
               CAST(count(l.l_orderkey) AS BIGINT) AS n_items,
               round(CAST(coalesce(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                                       * (100 - CAST(round(l.l_discount * 100) AS BIGINT))), 0)
                          AS BIGINT) / 10000.0, 2) AS net_revenue
        FROM (SELECT * FROM orders WHERE o_orderkey % 1000 = 0) o
        LEFT JOIN (SELECT * FROM lineitem WHERE l_orderkey % 1000 = 0) l
          ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    """,
    "corpus_shuffle": f"""
        SELECT doc_id,
               {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=7)} AS shuffle_key
        FROM documents
        ORDER BY shuffle_key, doc_id
    """,
    "corpus_mixture_sample": f"""
        WITH base AS (
            SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 1.5 WHEN 'de' THEN 1.0
                             WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.25
                             WHEN 'zh' THEN 2.0 ELSE 1.0 END AS w,
                   {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=3)} % 1000
                       AS bucket
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang,
                   CAST(floor(w) AS BIGINT)
                   + (CASE WHEN bucket < round((w - floor(w)) * 1000, 0)
                           THEN 1 ELSE 0 END) AS copies
            FROM base
        )
        SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS BIGINT)
                   AS copy_id
        FROM c WHERE copies > 0
        ORDER BY doc_id, copy_id
    """,
    "corpus_rebalance_langs": f"""
        WITH totals AS (
            SELECT lang, sum(n_chars) AS chars FROM documents GROUP BY lang
        ),
        mn AS (SELECT min(chars) AS mn FROM totals),
        w AS (SELECT lang, mn * 1.0 / chars AS weight FROM totals, mn),
        base AS (
            SELECT doc_id, d.lang, weight,
                   {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=11)} % 1000
                       AS bucket
            FROM documents d JOIN w USING (lang)
        ),
        c AS (
            SELECT doc_id, lang,
                   CAST(floor(weight) AS BIGINT)
                   + (CASE WHEN bucket < round((weight - floor(weight)) * 1000, 0)
                           THEN 1 ELSE 0 END) AS copies
            FROM base
        )
        SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS BIGINT)
                   AS copy_id
        FROM c WHERE copies > 0
        ORDER BY doc_id, copy_id
    """,
    "split_leakage_report": f"""
        WITH base AS (
            SELECT doc_id, md5({_TEXT_NORM}) AS cls FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, md5({_TEXT_NORM}) AS cls
            FROM documents WHERE doc_id < 50
        ),
        tagged AS (
            SELECT 'by_id' AS strategy, doc_id, cls,
                   CASE WHEN h < 800 THEN 'train'
                        WHEN h < 900 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id, cls,
                         {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=5)} % 1000 AS h
                  FROM base)
            UNION ALL
            SELECT 'by_fingerprint' AS strategy, doc_id, cls,
                   CASE WHEN h < 800 THEN 'train'
                        WHEN h < 900 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id, cls,
                         {_sql_hash64("cls", seed=5)} % 1000 AS h
                  FROM base)
        ),
        per_split AS (
            SELECT strategy, split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT cls) AS BIGINT) AS n_classes
            FROM tagged GROUP BY strategy, split
        ),
        leaked AS (
            SELECT strategy,
                   CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_leaked_classes
            FROM (SELECT strategy, cls, count(DISTINCT split) AS ns
                  FROM tagged GROUP BY strategy, cls)
            GROUP BY strategy
        )
        SELECT p.strategy, p.split, p.n_docs, p.n_classes, l.n_leaked_classes
        FROM per_split p JOIN leaked l USING (strategy)
        ORDER BY strategy, split
    """,
    "corpus_mixture_temperature": f"""
        WITH totals AS (
            SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        pw AS (SELECT lang, n, pow(n, 0.7) AS pn FROM totals),
        tot AS (SELECT sum(n) AS nn, sum(pn) AS z FROM pw),
        w AS (SELECT lang,
                     round((pn / z) / (n * 1.0 / nn), 6) AS weight
              FROM pw, tot),
        base AS (
            SELECT doc_id, d.lang, weight,
                   {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=7)} % 1000
                       AS bucket
            FROM documents d JOIN w USING (lang)
        ),
        c AS (
            SELECT doc_id, lang,
                   CAST(floor(weight) AS BIGINT)
                   + (CASE WHEN bucket < round((weight - floor(weight)) * 1000, 0)
                           THEN 1 ELSE 0 END) AS copies
            FROM base
        )
        SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS BIGINT)
                   AS copy_id
        FROM c WHERE copies > 0
        ORDER BY doc_id, copy_id
    """,
    "sample_hash_split": f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem
        WHERE {_sql_hash64("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", seed=0)} % 1000
              BETWEEN 0 AND 99
    """,
    "sample_stratified": f"""
        SELECT l_orderkey, l_linenumber, l_returnflag
        FROM lineitem
        WHERE {_sql_hash64("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)", seed=3)} % 1000
              < CASE l_returnflag WHEN 'A' THEN 100 WHEN 'N' THEN 200
                                  WHEN 'R' THEN 100 ELSE 0 END
    """,
    # exact two-pass heavy hitters: the Spark side provably equals this
    # full group-by (MG superset guarantee + exact recount + threshold)
    "heavy_hitters_tokens": f"""
        WITH t AS (
            SELECT unnest(string_split({_TEXT_NORM}, ' ')) AS token FROM documents
        ), g AS (
            SELECT token, count(*) AS "count" FROM t GROUP BY token
        )
        SELECT token, "count" FROM g
        WHERE "count" * 101 > (SELECT count(*) FROM t)
        ORDER BY "count" DESC, token
    """,
    # exact percentiles pinned on their interpolation grid as integers;
    # literal TRUE asserts the sketch's error-bound booleans held
    "agg_percentiles_approx": """
        SELECT l_returnflag,
               count(*) AS n,
               CAST(round(quantile_cont(l_extendedprice, 0.5) * 200) AS BIGINT)
                   AS median_x200,
               CAST(round(quantile_cont(l_extendedprice, 0.95) * 2000) AS BIGINT)
                   AS p95_x2000,
               TRUE AS p50_in_bound,
               TRUE AS p95_in_bound
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "sample_reservoir_group": f"""
        SELECT c_custkey, c_name, c_mktsegment FROM (
            SELECT c_custkey, c_name, c_mktsegment,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY {_sql_hash64("CAST(c_custkey AS VARCHAR)", seed=0)},
                                               c_custkey) AS rn
            FROM customer)
        WHERE rn <= 5
    """,
    "scd2_intervals": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               o_orderdate AS valid_from,
               coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate ASC, o_orderkey ASC),
                        TIMESTAMP '2199-12-31') AS valid_to,
               coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate ASC, o_orderkey ASC),
                        TIMESTAMP '2199-12-31') = TIMESTAMP '2199-12-31' AS is_current
        FROM orders
    """,
    "profile_columns": """
        SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT)
        FROM orders
    """,
    "bitwise_functions": """
        SELECT o_orderkey,
               o_orderkey & 255 AS band,
               o_orderkey | 4096 AS bor,
               xor(o_orderkey, 12345) AS bxor,
               o_orderkey << 3 AS shl,
               o_orderkey >> 2 AS shr,
               CAST(bit_count(o_orderkey) AS BIGINT) AS popcount,
               ~o_orderkey AS bnot
        FROM orders
    """,
    "merge_upsert": """
        WITH base AS (
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01')
            WHERE rn = 1),
        upd AS (
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01')
            WHERE rn = 1)
        SELECT coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
               coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
               coalesce(u.o_orderdate, b.o_orderdate) AS o_orderdate,
               u.o_custkey IS NOT NULL AS updated
        FROM base b FULL OUTER JOIN upd u ON b.o_custkey = u.o_custkey
    """,
    "events_ohlc": """
        WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
                   FROM events),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                        ORDER BY ts ASC, event_id ASC) AS ra,
                     row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                        ORDER BY ts DESC, event_id DESC) AS rd
              FROM e)
        SELECT event_type, date_trunc('day', ts) AS bucket,
               max(CASE WHEN ra = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rd = 1 THEN value END) AS close,
               round(sum(value), 2) AS volume,
               CAST(count(*) AS BIGINT) AS n_ticks
        FROM r GROUP BY event_type, date_trunc('day', ts)
    """,
    "events_rollup_hypertable": """
        WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        g AS (
            SELECT 'hour' AS grain, event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_events,
                   sum(value) AS s, min(value) AS min_value, max(value) AS max_value
            FROM e GROUP BY 2, 3
            UNION ALL
            SELECT 'day', event_type, CAST(date_trunc('day', ts) AS TIMESTAMP),
                   CAST(count(*) AS BIGINT), sum(value), min(value), max(value)
            FROM e GROUP BY 2, 3
            UNION ALL
            SELECT 'week', event_type, CAST(date_trunc('week', ts) AS TIMESTAMP),
                   CAST(count(*) AS BIGINT), sum(value), min(value), max(value)
            FROM e GROUP BY 2, 3
        )
        SELECT grain, event_type, bucket, n_events,
               round(s, 2) AS sum_value,
               round(round(s, 2) / n_events, 6) AS avg_value,
               min_value, max_value
        FROM g
    """,
    "timeseries_gapfill": """
        WITH h AS (
            SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(avg(value), 6) AS avg_value
            FROM events WHERE user_id < 50 GROUP BY 1, 2),
        b AS (SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM h GROUP BY user_id),
        s AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
              FROM b)
        SELECT s.user_id, s.hr,
               coalesce(h.n_events, 0)::BIGINT AS n_events,
               last_value(h.avg_value IGNORE NULLS)
                   OVER (PARTITION BY s.user_id ORDER BY s.hr
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
        FROM s LEFT JOIN h ON s.user_id = h.user_id AND s.hr = h.hr
    """,
    "outlier_zscore": """
        WITH s AS (SELECT event_type, round(avg(value), 6) AS mu,
                          round(stddev_samp(value), 6) AS sigma
                   FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value, round((value - mu) / sigma, 3) AS z
        FROM events e JOIN s ON e.event_type = s.event_type
        WHERE sigma > 0 AND abs(round((value - mu) / sigma, 3)) > 2.5
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
            FROM documents),
        t AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM toks WHERE length(term) > 0 GROUP BY doc_id, term),
        d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   round(t.tf * (CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
            FROM t JOIN d USING (term) CROSS JOIN n),
        r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS BIGINT) AS term_rank
              FROM scored)
        SELECT doc_id, term, tf, df, tfidf, term_rank FROM r WHERE term_rank <= 3
    """,
    "histogram_totalprice": """
        WITH b AS (
            SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 30000.0), 0), 19)
                        AS BIGINT) AS bucket,
                   o_totalprice
            FROM orders)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
               round(min(o_totalprice), 2) AS lo_seen,
               round(max(o_totalprice), 2) AS hi_seen,
               round(CAST(bucket AS DOUBLE) * 30000.0 + 0.0, 2) AS bucket_lo
        FROM b GROUP BY bucket ORDER BY bucket
    """,
    "flagship_max_price": """
        SELECT l_returnflag, round(max(l_extendedprice), 2) AS max_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "filter_project": """
        SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount <= 0.02
    """,
    "scalar_functions": """
        SELECT o_orderkey,
               upper(o_orderpriority) AS prio_upper,
               substr(o_orderpriority, 1, 1) AS prio_code,
               CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
               o_orderstatus || '-' || o_orderpriority AS status_prio,
               CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(month(o_orderdate) AS INTEGER) AS mon,
               date_trunc('month', o_orderdate) AS month_start,
               floor(o_totalprice * 10) / 100 AS tithe,
               CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_bucket,
               o_orderkey % 97 AS key_mod,
               abs(o_totalprice - 1000.0) AS abs_delta
        FROM orders
    """,
    "sort_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "join_customer_orders": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "join_revenue_by_nation": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY n_name
    """,
    "join_left_outer": """
        SELECT c_custkey, c_name,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    "join_anti": """
        SELECT c_custkey, c_name, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    "range_join": """
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_matches,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem JOIN (SELECT * FROM part WHERE p_size <= 10) p
          ON l_quantity >= CAST(p_size AS DOUBLE)
         AND l_quantity <= CAST(p_size + 4 AS DOUBLE)
        GROUP BY p_brand ORDER BY p_brand
    """,
    "asof_join": """
        SELECT l.event_id, l.user_id, l.ts, l.value, r.signup_ts, r.signup_value
        FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS signup_ts, value AS signup_value
            FROM events WHERE event_type = 'signup'
        ) r ON l.user_id = r.user_id AND l.ts >= r.signup_ts
    """,
    "agg_distinct": """
        SELECT l_returnflag,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "agg_rollup": """
        -- GROUPING-based fill, the exact twin of rollup_agg: only
        -- SUBTOTAL levels read '(all)'; a genuine NULL key value would
        -- stay NULL (indistinguishable-from-subtotal was the r15
        -- review finding; lineitem's keys happen to be non-null)
        SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
                    ELSE l_returnflag END AS l_returnflag,
               CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
                    ELSE l_linestatus END AS l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg_cube": """
        SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
                    ELSE l_returnflag END AS l_returnflag,
               CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
                    ELSE l_linestatus END AS l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "agg_grouping_sets": """
        SELECT coalesce(l_returnflag, '(all)') AS rf,
               coalesce(l_linestatus, '(all)') AS ls,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    "agg_median": """
        SELECT l_returnflag,
               round(median(l_extendedprice), 4) AS median_price,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "pivot": """
        SELECT l_linestatus,
               CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS n_n,
               CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_r
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    "unpivot": """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    "window_range_frame": """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(count(*) OVER w AS BIGINT) AS n_within_1k,
               round(sum(o_totalprice) OVER w, 2) AS sum_within_1k
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey, o_orderstatus
                     ORDER BY o_totalprice ASC
                     RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
    """,
    "window_rank": """
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               CAST(rank() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) AS BIGINT)
                   AS price_rank
        FROM lineitem
    """,
    "window_topk_per_group": """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
            FROM lineitem
        ) WHERE rn <= 3
    """,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate ASC, o_orderkey ASC
                                             ROWS UNBOUNDED PRECEDING), 2) AS running_spend
        FROM orders
    """,
    "window_lag": """
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               lag(o_totalprice) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate ASC, o_orderkey ASC)
                   AS prev_totalprice
        FROM orders
    """,
    "set_union": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "set_intersect": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "set_except": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "json_extract": """
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
    "explode_tokens": f"""
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split({_TEXT_NORM}, ' ')) AS token FROM documents
        ) GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    "rdd_wordcount": f"""
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split({_TEXT_NORM}, ' ')) AS token FROM documents
        ) GROUP BY token
    """,
    # the idiomatic twin computes the identical relation
    "df_wordcount": f"""
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split({_TEXT_NORM}, ' ')) AS token FROM documents
        ) GROUP BY token
    """,
    "window_tumbling": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "window_sliding": """
        SELECT CAST(time_bucket(INTERVAL '30 minutes', ts)
                    - off.o * INTERVAL '30 minutes' AS TIMESTAMP) AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events, (VALUES (0), (1)) AS off(o)
        GROUP BY 1, 2
    """,
    "window_session": """
        WITH flagged AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '2 hours'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        grouped AS (
            SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL '2 hours' AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM grouped GROUP BY user_id, sid
    """,
    "dedup_exact": f"""
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM documents GROUP BY md5({_TEXT_NORM})
    """,
    "dedup_chunks": f"""
        WITH toks AS (
            SELECT doc_id, string_split({_TEXT_NORM}, ' ') AS t FROM documents),
        tok AS (
            SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
            FROM toks),
        ch AS (
            SELECT doc_id, CAST(pos // 10 AS BIGINT) AS chunk_idx,
                   string_agg(tok, ' ' ORDER BY pos) AS chunk
            FROM tok GROUP BY doc_id, pos // 10),
        rk AS (
            SELECT doc_id, chunk_idx, chunk,
                   row_number() OVER (PARTITION BY md5(chunk)
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM ch)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE rn = 1), '') AS dedup_text,
               round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                   AS kept_frac
        FROM rk GROUP BY doc_id
    """,
    "dedup_duplicated_spans": f"""
        WITH toks AS (
            SELECT doc_id, string_split({_TEXT_NORM}, ' ') AS t FROM documents),
        g0 AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(t) - 7),
                                  i -> {_sql_hash64("array_to_string(t[i:i+7], ' ')")})
                       AS hs
            FROM toks),
        g AS (
            SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
            FROM g0),
        dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                        THEN 0 ELSE 1 END AS new_isl
            FROM hits),
        isl2 AS (
            SELECT doc_id, pos,
                   sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS island
            FROM isl),
        spans AS (
            SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
            FROM isl2 GROUP BY doc_id, island)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
               CAST(max(e - s + 1) AS BIGINT) AS max_span
        FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
    "text_bigram_lm": _PLANTED_TEXT_BIGRAM_LM,
    "lateral_join": """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) o
    """,
    "agg_statistical": """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(stddev_samp(value), 6) AS sd_value,
               round(var_samp(value), 6) AS var_value,
               round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_user,
               round(covar_samp(value, CAST(user_id AS DOUBLE)), 6)
                   AS covar_value_user
        FROM events GROUP BY event_type
    """,
    "unpivot_metrics": """
        WITH src AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                   CAST(l_discount AS DOUBLE) AS l_discount
            FROM lineitem WHERE l_orderkey < 1000)
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               l_quantity AS val FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
    """,
    "window_value_range": """
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(count(*) OVER w AS BIGINT) AS n_near,
               round(sum(o_totalprice) OVER w, 2) AS near_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                     RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
    """,
    "agg_grouping_id": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                   AS gid
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "events_funnel_users": """
        WITH s1 AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t_view
            GROUP BY e.user_id),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
            GROUP BY e.user_id)
        SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
               CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
                         WHEN s2.t_click IS NOT NULL THEN 2
                         ELSE 1 END AS BIGINT) AS stage
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    "timeseries_ewma": """
        WITH RECURSIVE ord AS (
            SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY event_id) AS rn
            FROM events WHERE user_id < 5),
        -- coefficients MUST be CAST to DOUBLE: bare 0.3/0.7 literals
        -- take DuckDB's exact-DECIMAL path and drift from the float64
        -- recurrence the Arrow kernel runs
        rec AS (
            SELECT user_id, event_id, value, rn, value AS e
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.user_id, o.event_id, o.value, o.rn,
                   CAST(0.3 AS DOUBLE) * o.value + CAST(0.7 AS DOUBLE) * r.e
            FROM ord o JOIN rec r
              ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        SELECT user_id, event_id, value, round(e, 6) AS ewma FROM rec
    """,
    "skew_report": """
        WITH c AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
            FROM events GROUP BY user_id),
        s AS (
            SELECT user_id, n_rows,
                   round(CAST(n_rows AS DOUBLE)
                         / CAST(sum(n_rows) OVER () AS DOUBLE), 6) AS share
            FROM c)
        SELECT user_id, n_rows, share FROM s
        ORDER BY n_rows DESC, user_id ASC LIMIT 10
    """,
    "corpus_mixture_report": f"""
        WITH g AS (
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split({_TEXT_NORM}, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source, lang)
        SELECT source, lang, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE)
                     / CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS token_share
        FROM g
    """,
    "csv_functions": """
        SELECT o_orderkey,
               CAST(o_orderkey AS VARCHAR) || ',' || o_orderpriority AS csv_line,
               o_orderkey AS k,
               o_orderpriority AS pri
        FROM orders WHERE o_orderkey < 2000
    """,
    "map_higher_order": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({_TEXT_NORM}, ' ')) AS token
            FROM documents WHERE doc_id < 100)
        SELECT doc_id, token, CAST(count(*) * 2 AS BIGINT) AS doubled
        FROM tok GROUP BY doc_id, token
        HAVING count(*) * 2 > 4
    """,
    "text_bm25_search": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({_TEXT_NORM}, ' ')) AS term
            FROM documents),
        lens AS (SELECT doc_id, count(*) AS len_d FROM tok GROUP BY doc_id),
        stats AS (SELECT sum(len_d) AS lsum, count(*) AS n FROM lens),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok
            WHERE term IN ('table', 'scan', 'stream')
            GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        -- parenthesization mirrors the Spark expression exactly (and
        -- fractional literals are CAST to DOUBLE per the module rules)
        sc AS (
            SELECT t.doc_id,
                   round(sum(
                       ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                       * (t.tf * (CAST(1.2 AS DOUBLE) + 1.0))
                       / (t.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * l.len_d / (s.lsum / s.n)))
                   ), 6) AS score
            FROM tf t
            JOIN dfreq d USING (term)
            JOIN lens l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY t.doc_id),
        r AS (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
            FROM sc)
        SELECT doc_id, score, CAST(rn AS BIGINT) AS qrank FROM r WHERE rn <= 20
    """,
    "text_hash_embed": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({_TEXT_NORM}, ' ')) AS token
            FROM documents),
        cnt AS (
            SELECT doc_id,
                   CAST({_sql_hash64("token")} % 16 AS BIGINT) AS dim,
                   CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY doc_id, dim)
        SELECT doc_id, dim, n,
               round(n / sqrt(sum(n * n) OVER (PARTITION BY doc_id)), 6) AS w
        FROM cnt
    """,
    "text_fingerprint_winnow": f"""
        WITH toks AS (
            SELECT doc_id, string_split({_TEXT_NORM}, ' ') AS t FROM documents),
        g0 AS (
            SELECT doc_id,
                   list_transform(generate_series(1, len(t) - 3),
                                  i -> ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 10))::BIGINT)
                       AS hs
            FROM toks),
        g AS (
            SELECT doc_id, generate_subscripts(hs, 1) - 1 AS pos, unnest(hs) AS h
            FROM g0),
        sel AS (
            SELECT doc_id, pos,
                   min(h * 1048576 + (1048575 - pos))
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mc,
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM g),
        fpp AS (
            SELECT DISTINCT doc_id, mc >> 20 AS fp_hash,
                   1048575 - (mc & 1048575) AS fp_pos
            FROM sel WHERE pos <= greatest(n - 5, 0))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
               min(fp_hash) AS fp_min, max(fp_hash) AS fp_max,
               bit_xor(fp_hash) AS fp_xor
        FROM fpp GROUP BY doc_id ORDER BY doc_id
    """,
    "histogram_equidepth": """
        WITH b AS (
            SELECT o_orderkey, o_totalprice,
                   CAST(ntile(10) OVER (ORDER BY o_totalprice ASC,
                                        o_orderkey ASC) AS BIGINT) AS bucket
            FROM orders)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM b GROUP BY bucket ORDER BY bucket
    """,
    "pmi_cooccurrence": f"""
        WITH doctok AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split({_TEXT_NORM}, ' ')) AS token
            FROM documents),
        cnt AS (
            SELECT token, CAST(count(*) AS BIGINT) AS c FROM doctok
            GROUP BY token HAVING count(*) >= 20),
        kept AS (SELECT d.doc_id, d.token, c.c FROM doctok d JOIN cnt c USING (token)),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        pairs AS (
            SELECT a.token AS token_a, b.token AS token_b,
                   a.c AS docs_a, b.c AS docs_b,
                   CAST(count(*) AS BIGINT) AS pair_docs
            FROM kept a JOIN kept b
              ON a.doc_id = b.doc_id AND a.token < b.token
            GROUP BY a.token, b.token, a.c, b.c
            HAVING count(*) >= 20)
        SELECT token_a, token_b, pair_docs, docs_a, docs_b,
               round(ln(CAST(pair_docs AS DOUBLE) * n.nd / (docs_a * docs_b)), 6) AS pmi
        FROM pairs CROSS JOIN n
    """,
    "vocab_oov": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split({_TEXT_NORM}, ' ')) AS token
            FROM documents),
        cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        voc AS (
            SELECT token FROM (
                SELECT token, row_number() OVER (ORDER BY c DESC, token ASC) AS rn
                FROM cnt)
            WHERE rn <= 24)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS oov_rate
        FROM tok LEFT JOIN voc v USING (token)
        GROUP BY doc_id
    """,
    "text_stats": f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST({_N_TOK} AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(regexp_split_to_array({_SUBTOK_PREP},
                            '[^a-z0-9]+'), p -> p <> '')) AS BIGINT) AS n_subtokens,
                   CAST(length(text) AS BIGINT) AS n_chars2,
                   {_PUNCT_RATIO} AS punct_ratio,
                   {_SW_RATIO} AS stopword_ratio,
                   {_MWL} AS mean_word_len,
                   {_LANG_SCORE_EXPRS['en']} AS s_en,
                   {_LANG_SCORE_EXPRS['es']} AS s_es,
                   {_LANG_SCORE_EXPRS['fr']} AS s_fr,
                   {_LANG_SCORE_EXPRS['de']} AS s_de,
                   md5({_TEXT_NORM}) AS fingerprint
            FROM documents
        ),
        with_best AS (
            SELECT *, {_LANG_BEST} AS best FROM scored
        )
        SELECT doc_id, n_tokens, n_subtokens, n_chars2, punct_ratio, stopword_ratio,
               mean_word_len,
               round(least(stopword_ratio * 4, 1.0) * 0.4
                     + (1.0 - least(punct_ratio * 5, 1.0)) * 0.3
                     + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 8
                             THEN 1.0 ELSE 0.3 END) * 0.3, 6) AS quality,
               {_LANG_CASE} AS lang_pred,
               fingerprint
        FROM with_best
    """,
    "text_decontaminate": _PLANTED_TEXT_DECONTAMINATE,
    "text_line_dedup": """
    WITH toks AS (
      SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents
    ),
    lines AS (
      SELECT doc_id, g.i AS pos,
             array_to_string(list_slice(t, g.i * 8 + 1, g.i * 8 + 8), ' ') AS line
      FROM toks,
           UNNEST(generate_series(0, CAST(ceil(len(t) / 8.0) AS BIGINT) - 1)) AS g(i)
    ),
    keyed AS (
      SELECT doc_id, pos, line,
             CASE WHEN length(trim(line)) >= 10 THEN md5(trim(line)) END AS k
      FROM lines
    ),
    boiler AS (
      SELECT k FROM keyed WHERE k IS NOT NULL
      GROUP BY k HAVING count(DISTINCT doc_id) > 2
    ),
    kept AS (
      SELECT doc_id, pos, line FROM keyed
      WHERE k IS NULL OR k NOT IN (SELECT k FROM boiler)
    ),
    spine AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id,
           md5(coalesce(r.clean, '')) AS clean_md5,
           CAST(length(coalesce(r.clean, '')) AS BIGINT) AS clean_chars,
           CAST(s.n_lines AS BIGINT) AS n_lines,
           CAST(s.n_lines - coalesce(r.kept_n, 0) AS BIGINT) AS n_removed
    FROM spine s LEFT JOIN rebuilt r ON s.doc_id = r.doc_id
    ORDER BY s.doc_id
""",
    "text_repetition_stats": f"""
        WITH docs AS (SELECT doc_id, string_split({_norm('text')}, ' ') AS w
                      FROM documents),
        allg AS (
            SELECT doc_id, 1 AS n, unnest(w) AS g FROM docs WHERE len(w) >= 1
            UNION ALL
            SELECT doc_id, 2 AS n, unnest({_sql_word_grams(2)}) AS g
            FROM docs WHERE len(w) >= 2
            UNION ALL
            SELECT doc_id, 3 AS n, unnest({_sql_word_grams(3)}) AS g
            FROM docs WHERE len(w) >= 3
        ),
        cnt AS (SELECT doc_id, n, g, count(*) AS c
                FROM allg GROUP BY doc_id, n, g),
        per AS (SELECT doc_id, n, max(c) AS maxc, sum(c) AS tot,
                       sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
                FROM cnt GROUP BY doc_id, n),
        rolled AS (
            SELECT doc_id,
                round(max(CASE WHEN n = 1
                    THEN maxc * 1.0 / greatest(tot, 1) END), 6) AS top_unigram_frac,
                round(max(CASE WHEN n = 2
                    THEN maxc * 1.0 / greatest(tot, 1) END), 6) AS top_bigram_frac,
                round(max(CASE WHEN n = 3
                    THEN maxc * 1.0 / greatest(tot, 1) END), 6) AS top_trigram_frac,
                round(max(CASE WHEN n = 3
                    THEN dup * 1.0 / greatest(tot, 1) END), 6) AS dup_trigram_frac
            FROM per GROUP BY doc_id
        )
        SELECT *, (coalesce(top_bigram_frac, 0.0) <= 0.06
                   AND coalesce(dup_trigram_frac, 0.0) <= 0.05) AS keep
        FROM rolled ORDER BY doc_id
    """,
    "corpus_boilerplate_ngrams": _PLANTED_CORPUS_BOILERPLATE_NGRAMS,
    "text_redact_pii": """
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     'contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-123-4567 re: ' || text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                 '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '<PHONE>', 'g') AS clean
        FROM documents
    """,
    "dedup_keep_best": f"""
        SELECT doc_id, q FROM (
            SELECT doc_id, q,
                   row_number() OVER (PARTITION BY md5({_TEXT_NORM})
                                      ORDER BY q DESC, doc_id ASC) AS rn
            FROM (SELECT doc_id, text, {_QUALITY_SQL} AS q FROM documents)
        ) WHERE rn = 1
    """,
    "dedup_incremental": f"""
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS dup_count
        FROM documents
        WHERE doc_id >= 250
          AND md5({_TEXT_NORM}) NOT IN (
              SELECT md5({_TEXT_NORM}) FROM documents WHERE doc_id < 250
          )
        GROUP BY md5({_TEXT_NORM})
    """,
    "fuzzy_match_entities": """
        WITH dirty AS (
            SELECT s_suppkey AS d_id,
                   CASE WHEN s_suppkey % 3 = 0
                        THEN substr(s_name, 1, 11) || 'X' || substr(s_name, 13)
                        WHEN s_suppkey % 3 = 1 THEN s_name || 'Q'
                        ELSE s_name END AS d_name
            FROM supplier
        ),
        entities AS (
            SELECT s_name, min(s_suppkey) AS s_suppkey
            FROM supplier GROUP BY s_name
        )
        SELECT d_id, s_suppkey AS matched_id, d_name, s_name,
               CAST(levenshtein(d_name, s_name) AS BIGINT) AS dist
        FROM dirty JOIN entities
          ON substr(d_name, 13, 6) = substr(s_name, 13, 6)
        WHERE levenshtein(d_name, s_name) <= 1
        ORDER BY d_id, matched_id
    """,
    "try_functions": """
        SELECT l_orderkey,
               CAST(l_linenumber AS BIGINT) AS l_linenumber,
               l_extendedprice / nullif(l_quantity, 0) AS unit_price,
               l_extendedprice / nullif(l_quantity - l_quantity, 0) AS div_by_zero,
               TRY_CAST(l_returnflag AS INT) AS flag_as_int,
               TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS roundtrip_key
        FROM lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_linenumber
    """,
    "group_by_all": """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY ALL ORDER BY ALL
    """,
    "recursive_hierarchy": """
        WITH RECURSIVE tree(k, root, depth) AS (
            SELECT s_suppkey, s_suppkey, 0
            FROM supplier WHERE s_suppkey <= 1
            UNION ALL
            SELECT s.s_suppkey, t.root, t.depth + 1
            FROM supplier s JOIN tree t
              ON CAST(FLOOR(s.s_suppkey / 2.0) AS BIGINT) = t.k
            WHERE s.s_suppkey > 1
        )
        SELECT k AS s_suppkey, CAST(root AS BIGINT) AS root,
               CAST(depth AS BIGINT) AS depth
        FROM tree ORDER BY s_suppkey
    """,
    "cross_join_small": """
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name
    """,
    "text_chunking": f"""
        WITH docs AS (
            SELECT doc_id, string_split({_TEXT_NORM}, ' ') AS toks FROM documents
        )
        SELECT doc_id,
               CAST(k.k AS BIGINT) AS chunk_id,
               array_to_string(toks[k.k*24 + 1 : k.k*24 + 32], ' ') AS chunk_text,
               CAST(len(toks[k.k*24 + 1 : k.k*24 + 32]) AS BIGINT) AS n_tokens
        FROM docs,
             LATERAL (SELECT unnest(generate_series(0,
                          CAST(floor((len(toks) - 1) * 1.0 / 24) AS BIGINT))) AS k) k
    """,
    "dedup_minhash_signatures": f"""
        WITH {_minhash_cte()}
        SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS hash_idx, sig[g.i] AS minhash
        FROM sig, generate_series(1, 12) AS g(i)
    """,
    "dedup_minhash_pairs": _banded_cte()
    + """
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    "dedup_components": _must_replace(_banded_cte(), "WITH ", "WITH RECURSIVE ", 1)
    + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT id_a AS s, id_b AS t FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS t FROM pairs
        ),
        reach AS (
            SELECT s AS id, s AS comp FROM edges
            UNION
            SELECT e.s AS id, r.comp FROM edges e JOIN reach r ON e.t = r.id
        )
        SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component
        FROM reach GROUP BY id ORDER BY doc_id
    """,
    "dedup_components_star": _must_replace(_banded_cte(), "WITH ", "WITH RECURSIVE ", 1)
    + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT id_a AS s, id_b AS t FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS t FROM pairs
        ),
        reach AS (
            SELECT s AS id, s AS comp FROM edges
            UNION
            SELECT e.s AS id, r.comp FROM edges e JOIN reach r ON e.t = r.id
        )
        SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component
        FROM reach GROUP BY id ORDER BY doc_id
    """,
    "pipeline_training_data": f"""
        WITH scored AS (
            SELECT doc_id,
                   {_LANG_SCORE_EXPRS['en']} AS s_en,
                   {_LANG_SCORE_EXPRS['es']} AS s_es,
                   {_LANG_SCORE_EXPRS['fr']} AS s_fr,
                   {_LANG_SCORE_EXPRS['de']} AS s_de,
                   {_QUALITY_SQL} AS quality,
                   CAST({_N_TOK} AS BIGINT) AS n_tokens,
                   md5({_TEXT_NORM}) AS fp
            FROM documents
        ),
        with_best AS (SELECT *, {_LANG_BEST} AS best FROM scored),
        labeled AS (
            SELECT doc_id, {_LANG_CASE} AS lang, quality, n_tokens, fp
            FROM with_best
        )
        SELECT doc_id, lang, quality, n_tokens,
               CAST(floor((n_tokens - 1) / 24) + 1 AS BIGINT) AS n_chunks
        FROM (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
              FROM labeled WHERE quality >= 0.5 AND lang = 'en')
        WHERE rn = 1 ORDER BY doc_id
    """,
    "dedup_ngram_jaccard": _banded_cte()
    + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        ),
        sets AS (SELECT doc_id, list_distinct(s) AS st FROM sh)
        SELECT id_a, id_b,
               round(len(list_intersect(sa.st, sb.st)) * 1.0
                     / len(list_distinct(list_concat(sa.st, sb.st))), 6) AS jaccard
        FROM pairs
        JOIN sets sa ON sa.doc_id = id_a
        JOIN sets sb ON sb.doc_id = id_b
        WHERE round(len(list_intersect(sa.st, sb.st)) * 1.0
                    / len(list_distinct(list_concat(sa.st, sb.st))), 6) >= 0.5
    """,
    "dedup_threshold_sweep": _banded_cte()
    + """
        , pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        ),
        sets AS (SELECT doc_id, list_distinct(s) AS st FROM sh),
        verified AS (
            SELECT id_a, id_b,
                   round(len(list_intersect(sa.st, sb.st)) * 1.0
                         / len(list_distinct(list_concat(sa.st, sb.st))), 6)
                       AS jaccard
            FROM pairs
            JOIN sets sa ON sa.doc_id = id_a
            JOIN sets sb ON sb.doc_id = id_b
        ),
        grid AS (SELECT t / 100.0 AS threshold
                 FROM generate_series(50, 90, 10) AS g(t))
        SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
        FROM verified, grid
        WHERE jaccard >= threshold
        GROUP BY threshold ORDER BY threshold
    """,
    "dedup_simhash": _simhash_sql(32),
    "dedup_simhash_banded": f"""
        WITH fps AS ({_simhash_sql(32)}),
        banded AS (
            SELECT doc_id, simhash, b.i AS band,
                   CASE WHEN b.i < 3 THEN (simhash >> (b.i * 8)) & 255
                        ELSE simhash >> 24 END AS band_key
            FROM fps, generate_series(0, 3) AS b(i)
        ),
        sized AS (
            SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn FROM banded
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            WHERE a.bn <= 1000 AND b.bn <= 1000
        )
        SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        FROM pairs WHERE hamming <= 3
    """,
    # `guarded` is false at verification scale BY CONTRACT: no label
    # block exceeds max_block_rows=32768, so every pair comes from the
    # exact all-pairs scan — the oracle hash now pins that the guard
    # did NOT silently engage
    "embedding_near_dup": """
        SELECT *, FALSE AS guarded FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cos >= 0.35
    """,
    # replays the LSH-blocked near-dup end to end: md5-derived planes →
    # sign buckets → exact in-(label,bucket) rounded-cosine pairs
    "embedding_near_dup_lsh": """
        WITH planes AS (
            SELECT i.i AS plane, j.j AS dim,
                   ('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':'
                                       || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967295.0 - 0.5 AS pv
            FROM generate_series(0, 2) i(i), generate_series(0, 63) j(j)
        ),
        comps AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        dots AS (
            SELECT c.vec_id, p.plane, sum(c.x * p.pv) AS d
            FROM comps c JOIN planes p ON c.dim = p.dim
            GROUP BY c.vec_id, p.plane
        ),
        sig AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN d >= 0 THEN 1 << plane ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id
        ),
        v AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v,
                     s.bucket
              FROM embeddings e JOIN sig s USING (vec_id))
        SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos
            FROM v a JOIN v b ON a.label = b.label AND a.bucket = b.bucket
                              AND a.vec_id < b.vec_id
        ) WHERE cos >= 0.35
    """,
    # replays the full IVF pipeline with the deterministic lowest-id
    # seed centroids: assign every corpus vector to its nearest centroid
    # (cos rounded to 9 before ranking, ties on centroid_id — matching
    # similarity._nearest_centroids), probe the 4 nearest cells per
    # query, cosine top-k within probed cells only
    "ann_ivf_topk": """
        WITH cent AS (
            SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centv
            FROM embeddings ORDER BY vec_id ASC LIMIT 16
        ),
        assigned AS (
            SELECT vec_id AS neighbor_id, cv, centroid_id FROM (
                SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS cv,
                       c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                               c.centroid_id ASC) AS cr
                FROM embeddings e, cent c
            ) WHERE cr = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, qv, centroid_id FROM (
                SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS qv,
                       c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(
                               CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                               c.centroid_id ASC) AS cr
                FROM embeddings e, cent c
                WHERE e.vec_id < 5
            ) WHERE cr <= 4
        ),
        s AS (
            SELECT query_id, neighbor_id,
                   round(list_cosine_similarity(cv, qv), 6) AS cos
            FROM assigned JOIN probes USING (centroid_id)
            WHERE neighbor_id <> query_id
        ),
        r AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM s
        )
        SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rank
        FROM r WHERE rn <= 10
    """,
    # replays the full LSH pipeline: hyperplane components are
    # md5-derived exactly as similarity._hyperplane builds them, sign
    # bits form the bucket, and the cosine top-k runs only on
    # bucket-mates (cos rounded to 6 BEFORE ranking on both engines, so
    # last-ulp summation-order noise can't reorder neighbors)
    "ann_lsh_topk": """
        WITH planes AS (
            SELECT i.i AS plane, j.j AS dim,
                   ('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':'
                                       || CAST(j.j AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967295.0 - 0.5 AS pv
            FROM generate_series(0, 5) i(i), generate_series(0, 63) j(j)
        ),
        comps AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        dots AS (
            SELECT c.vec_id, p.plane, sum(c.x * p.pv) AS d
            FROM comps c JOIN planes p ON c.dim = p.dim
            GROUP BY c.vec_id, p.plane
        ),
        sig AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN d >= 0 THEN 1 << plane ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id
        ),
        q AS (SELECT e.vec_id AS query_id, e.embedding AS qv, s.bucket
              FROM embeddings e JOIN sig s USING (vec_id) WHERE e.vec_id < 5),
        c2 AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, s.bucket
               FROM embeddings e JOIN sig s USING (vec_id)),
        s2 AS (
            SELECT query_id, neighbor_id,
                   round(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos
            FROM c2 JOIN q USING (bucket)
            WHERE neighbor_id <> query_id
        ),
        r AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM s2
        )
        SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rank
        FROM r WHERE rn <= 10
    """,
    "ann_cosine_topk": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        s AS (
            SELECT query_id, neighbor_id,
                   round(list_cosine_similarity(CAST(cv AS DOUBLE[]),
                                                CAST(qv AS DOUBLE[])), 6) AS cos
            FROM c, q WHERE neighbor_id <> query_id
        ),
        r AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM s
        )
        SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rank
        FROM r WHERE rn <= 10
    """,
    "ann_quantized_topk": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        -- q_i = floor(v_i * 127/max|v| + 0.5): integer-valued doubles, so
        -- every dot/norm below is exact integer arithmetic (< 2^53)
        qv AS (
            SELECT vec_id,
                   list_transform(v, x -> floor(x * (CASE WHEN ma > 0
                        THEN 127.0 / ma ELSE 0.0 END) + 0.5)) AS q
            FROM m),
        n AS (SELECT vec_id, sqrt(list_sum(list_transform(q, x -> x * x))) AS nn FROM qv),
        s AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   round(CASE WHEN na.nn * nb.nn > 0
                         THEN list_inner_product(a.q, b.q) / (na.nn * nb.nn) END, 6) AS qcos
            FROM qv a JOIN qv b ON b.vec_id <> a.vec_id
            JOIN n na ON na.vec_id = a.vec_id
            JOIN n nb ON nb.vec_id = b.vec_id
            WHERE a.vec_id < 5),
        r AS (
            SELECT query_id, neighbor_id, qcos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC NULLS LAST, neighbor_id ASC) AS rn
            FROM s)
        SELECT query_id, neighbor_id, qcos, CAST(rn AS BIGINT) AS qrank
        FROM r WHERE rn <= 10
    """,
    "tpch_q6_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q3_shipping": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
    "lateral_topk_per_order": """
        SELECT o_orderkey, o_orderstatus,
               CAST(t.l_linenumber AS BIGINT) AS line_no, t.l_extendedprice
        FROM orders, LATERAL (
            SELECT l_linenumber, l_extendedprice
            FROM lineitem
            WHERE l_orderkey = o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 2
        ) t
        ORDER BY o_orderkey, t.l_extendedprice DESC
    """,
    "hof_array_pipeline": """
        SELECT vec_id,
               round(list_transform(embedding,
                                    x -> round(CAST(x AS DOUBLE) * 2, 4))[1],
                     4) AS first_doubled,
               CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))
                    AS BIGINT) AS n_positive,
               len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.9)) > 0
                   AS has_big,
               round(list_aggregate(list_transform(embedding,
                                                   x -> CAST(x AS DOUBLE)),
                                    'sum'), 4) AS vsum,
               round(list_aggregate(list_transform(embedding,
                                                   x -> CAST(x AS DOUBLE)
                                                        * CAST(x AS DOUBLE)),
                                    'sum'), 4) AS norm_sq
        FROM embeddings
    """,
    "datetime_functions": """
        SELECT o_orderkey,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(day(o_orderdate) AS BIGINT) AS dom,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
               CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
               CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP)
                   AS plus3mo,
               CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
                    AS BIGINT) AS days_to_y2k,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
               strftime(o_orderdate, '%Y-%m') AS ym
        FROM orders
    """,
    "string_functions_extra": """
        SELECT doc_id,
               CAST(levenshtein(source, 'webcrawl') AS BIGINT) AS lev_web,
               lpad(lang, 5, '_') AS lang_pad,
               rpad(lang, 5, '*') AS lang_rpad,
               repeat(lang, 2) AS lang2,
               reverse(source) AS src_rev,
               translate(source, 'aeiou', 'AEIOU') AS src_vowel,
               split_part(text, ' ', 2) AS second_word,
               CAST(strpos(source, 'a') AS BIGINT) AS first_a,
               substr(source, 1, 3) AS src3,
               printf('%05d', doc_id) AS id5,
               concat_ws('|', lang, source) AS lang_src
        FROM documents
    """,
    "agg_conditional": """
        WITH ranked AS (
            SELECT o_orderstatus, o_orderkey, o_totalprice, o_orderpriority,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice DESC, o_orderkey DESC)
                       AS rn_max,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice ASC, o_orderkey ASC)
                       AS rn_min
            FROM orders
        )
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
               round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN o_totalprice ELSE 0.0 END), 2) AS urgent_spend,
               max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS priciest_order,
               max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS cheapest_order
        FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "agg_collect_sorted": """
        SELECT o_custkey,
               array_to_string(list_sort(list_distinct(
                   array_agg(o_orderpriority))), ',') AS priorities,
               array_to_string(list_sort(list_distinct(
                   array_agg(CAST(year(o_orderdate) AS VARCHAR)))), ',')
                   AS active_years
        FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
    "regexp_functions": """
        SELECT doc_id,
               regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
               CAST(len(regexp_extract_all(text, '(\\d+)', 1)) AS BIGINT)
                   AS n_numbers,
               regexp_matches(text, '\\d') AS has_digit,
               regexp_replace(text, '\\d+', '#', 'g') AS masked
        FROM documents
    """,
    "sessionize_gaps": """
        WITH ev AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS tse, event_id, value
            FROM events
        ),
        gapped AS (
            SELECT user_id, tse, event_id, value,
                   CASE WHEN lag(tse) OVER w IS NULL
                             OR CAST(floor(epoch(tse)) AS BIGINT)
                                - CAST(floor(epoch(lag(tse) OVER w)) AS BIGINT)
                                > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
        ),
        sess AS (
            SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                                               ORDER BY tse, event_id)
                           AS BIGINT) AS session_id
            FROM gapped
        )
        SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
               min(tse) AS sess_start, max(tse) AS sess_end,
               round(sum(value), 2) AS sess_value
        FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
    "tpch_q4_priority": """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "tpch_q5_local_supplier": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    "tpch_q7_volume_shipping": """
        SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "tpch_q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    "tpch_q14_promo_share": """
        SELECT round(100.0 *
                   sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    "tpch_q15_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q18_large_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    "tpch_q22_idle_customers": """
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "events_funnel": """
        WITH t1 AS (
            SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
            FROM events e JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t1
            GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
            FROM events e JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t2
            GROUP BY e.user_id
        )
        SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM t1
        UNION ALL
        SELECT '2_click', CAST(count(*) AS BIGINT) FROM t2
        UNION ALL
        SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM t3
        ORDER BY stage
    """,
    "events_retention": """
        WITH first AS (
            SELECT user_id,
                   min(date_trunc('week', CAST(ts AS TIMESTAMP))) AS cohort_week
            FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT user_id,
                   date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
            FROM events
        )
        SELECT cohort_week,
               CAST(datediff('day', cohort_week, wk) / 7 AS BIGINT) AS week_offset,
               CAST(count(DISTINCT active.user_id) AS BIGINT) AS active_users
        FROM active JOIN first ON active.user_id = first.user_id
        GROUP BY cohort_week, week_offset
        ORDER BY cohort_week, week_offset
    """,
    "agg_statistics": """
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 6) AS sd_qty,
               round(var_samp(l_quantity), 6) AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
               round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qp,
               round(skewness(l_quantity), 6) AS skew_qty,
               round(kurtosis(l_quantity), 6) AS kurt_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "json_variant": """
        SELECT o_orderkey,
               CAST(json_extract(payload, '$.price') AS DOUBLE) AS price,
               json_extract_string(payload, '$.prio') AS prio,
               json_extract_string(payload, '$.nested.s') AS status
        FROM (
            SELECT o_orderkey,
                   to_json(struct_pack(price := o_totalprice,
                                       prio := o_orderpriority,
                                       nested := struct_pack(s := o_orderstatus))) AS payload
            FROM orders WHERE o_orderkey < 2000
        ) ORDER BY o_orderkey
    """,
    "tpch_q2_min_cost_supplier": """
        WITH supply AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS supplycost
            FROM lineitem WHERE l_quantity > 0
            GROUP BY l_partkey, l_suppkey
        ),
        eligible AS (
            SELECT l_partkey, supplycost, s_acctbal, s_name, n_name
            FROM supply
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        mincost AS (
            SELECT l_partkey AS mk, min(supplycost) AS mc
            FROM eligible GROUP BY l_partkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               round(supplycost, 2) AS supplycost
        FROM eligible
        JOIN mincost ON l_partkey = mk AND supplycost = mc
        JOIN part    ON l_partkey = p_partkey
        WHERE p_size <= 15 AND p_type = 'STANDARD'
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    "tpch_q8_market_share": """
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                              ELSE 0.0 END) / sum(volume), 6) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount) AS volume,
                   n2.n_name AS supp_nation
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year ORDER BY o_year
    """,
    "tpch_q9_product_profit": """
        SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        FROM (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity AS amount
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year ORDER BY nation, o_year DESC
    """,
    "tpch_q11_important_parts": """
        WITH per_part AS (
            -- CAST outside the sum: duckdb's sum(BIGINT) yields HUGEINT,
            -- which pandas surfaces as float64 and the driver's value-hash
            -- then differs from Spark's int64 despite equal values.
            SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
            GROUP BY l_partkey
        )
        SELECT l_partkey, value FROM per_part
        WHERE value * (SELECT count(*) FROM per_part)
              > 2 * (SELECT CAST(sum(value) AS BIGINT) FROM per_part)
        ORDER BY value DESC, l_partkey
    """,
    "tpch_q12_ship_priority": """
        SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                    THEN 'SLOW' ELSE 'FAST' END AS ship_class,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY ship_class ORDER BY ship_class
    """,
    "tpch_q13_cust_distribution": """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer
            LEFT OUTER JOIN orders ON c_custkey = o_custkey
                                  AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q16_supplier_cnt": """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 15, 20, 25, 30)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_name LIKE '%7')
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "tpch_q17_small_qty_revenue": """
        WITH scoped AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13' AND p_size < 10
        ),
        lim AS (
            SELECT l_partkey AS ak, 0.2 * avg(l_quantity) AS qty_lim
            FROM scoped GROUP BY l_partkey
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM scoped JOIN lim ON l_partkey = ak
        WHERE l_quantity < qty_lim
    """,
    "tpch_q19_discounted_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q20_excess_suppliers": """
        WITH pair_qty AS (
            SELECT l_partkey, l_suppkey,
                   sum(CAST(l_quantity AS BIGINT)) AS qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey
        ),
        part_tot AS (
            SELECT l_partkey AS tk, sum(qty) AS tot
            FROM pair_qty GROUP BY l_partkey
        )
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND s_suppkey IN (SELECT DISTINCT l_suppkey
                            FROM pair_qty JOIN part_tot ON l_partkey = tk
                            WHERE qty * 2 > tot)
        ORDER BY s_name
    """,
    "tpch_q21_waiting_suppliers": """
        WITH late AS (
            SELECT l_orderkey, l_suppkey
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM late l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
    "window_rank_extras": """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey, o_orderstatus
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    "window_first_last": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               first_value(o_totalprice) OVER w AS first_spend,
               last_value(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS last_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    "udf_pandas_scalar": """
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
               l_extendedprice * (1.0 - l_discount) AS net_price
        FROM lineitem
    """,
    "udaf_weighted_avg": """
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
                   AS wavg_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "udtf_tokenize": f"""
        WITH docs AS (
            SELECT doc_id, string_split({_TEXT_NORM}, ' ') AS toks
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               unnest(toks) AS token,
               CAST(unnest(generate_series(0, len(toks) - 1)) AS INTEGER) AS pos
        FROM docs
    """,
    "udf_mapinpandas": """
        SELECT CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_discount AS DOUBLE) AS l_discount,
               CAST(l_tax AS DOUBLE) AS l_tax,
               abs(l_quantity) + abs(l_discount) + abs(l_tax) AS row_abs_sum
        FROM lineitem
    """,
    "subquery_correlated": """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c2.c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
    """,
    "sql_cte": """
        WITH big AS (
            SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000
        ),
        per_cust AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big,
                   round(sum(o_totalprice), 2) AS total_big
            FROM big GROUP BY o_custkey
        )
        SELECT * FROM per_cust WHERE n_big >= 2
    """,
    "salted_agg": """
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(l_orderkey) AS BIGINT) AS n_rows,
               max(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "salted_join": """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "json_from_struct": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
               'type' AS first_key,
               event_type AS type_val
        FROM events
    """,
    "array_functions": """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               embedding[3] AS third,
               CAST(list_aggregate(embedding, 'max') AS FLOAT) AS vmax,
               CAST(list_aggregate(embedding, 'min') AS FLOAT) AS vmin
        FROM embeddings
    """,
    "multimodal_meta": """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               'image' AS kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS content_sha256,
               'application/octet-stream' AS mime
        FROM documents
    """,
    # mirrors synthetic_ppm_media's arithmetic pixels + decode_image's
    # per-channel means: mean over the 8x8 grid of (i*31+y*7+x*3+c*11)%256
    "multimodal_video_frames": """
        SELECT CAST(doc_id AS BIGINT) AS video_id,
               CAST(f.f AS BIGINT) AS frame_idx,
               CAST(f.f * 40 AS BIGINT) AS ts_ms,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               round(avg(((doc_id * 1000 + f.f) * 31 + g1.y * 7 + g2.x * 3) % 256), 6)
                   AS mean_r,
               round(avg(((doc_id * 1000 + f.f) * 31 + g1.y * 7 + g2.x * 3 + 11) % 256), 6)
                   AS mean_g,
               round(avg(((doc_id * 1000 + f.f) * 31 + g1.y * 7 + g2.x * 3 + 22) % 256), 6)
                   AS mean_b
        FROM documents,
             (VALUES (0), (2), (4)) AS f(f),
             generate_series(0, 7) AS g1(y),
             generate_series(0, 7) AS g2(x)
        WHERE doc_id < 100
        GROUP BY doc_id, f.f
        ORDER BY video_id, frame_idx
    """,
    # replays pack_sequences_deterministic's next-fit recurrence: deal
    # docs to 8 lanes by id-hash, order by hash within a lane, close a
    # bin when the next doc would overflow budget=128.  Linear
    # recursion advances all lanes one row per step, so depth = the
    # largest lane, not the corpus.
    "pack_sequences": f"""
        WITH RECURSIVE parts AS (
            SELECT doc_id,
                   CAST({_N_TOK} AS BIGINT) AS n_tokens,
                   hv % 8 AS part,
                   row_number() OVER (PARTITION BY hv % 8
                                      ORDER BY hv, doc_id) AS rn
            FROM (
                SELECT doc_id, text,
                       {_sql_hash64("CAST(doc_id AS VARCHAR)", seed=11)} AS hv
                FROM documents
            )
        ), packed AS (
            SELECT part, rn, doc_id, n_tokens, n_tokens AS fill,
                   CAST(0 AS BIGINT) AS bin
            FROM parts WHERE rn = 1
            UNION ALL
            SELECT t.part, t.rn, t.doc_id, t.n_tokens,
                   CASE WHEN p.fill + t.n_tokens > 128
                        THEN t.n_tokens ELSE p.fill + t.n_tokens END,
                   CASE WHEN p.fill + t.n_tokens > 128
                        THEN p.bin + 1 ELSE p.bin END
            FROM parts t JOIN packed p
              ON t.part = p.part AND t.rn = p.rn + 1
        )
        SELECT doc_id,
               CAST(part AS BIGINT) AS part,
               CAST(part * 4294967296 + bin AS BIGINT) AS bin_id,
               n_tokens
        FROM packed ORDER BY doc_id
    """,
    # exact distinct counts + literal TRUE: a hash match certifies the
    # sketch estimates landed inside their error bands on this data
    "agg_approx_distinct": """
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               TRUE AS approx_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "agg_hll_sketch": """
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               TRUE AS est_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "agg_hll_rollup": """
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n_orders,
               TRUE AS est_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    # mirrors extract_audio_features over synthetic_wav_media square
    # waves: amp = 1000 + (i%100)*10, half-period = 4 + (i%8), n = 800,
    # rate = 8000.  RMS of a ±amp square wave is exactly amp; sign
    # changes happen at sample t iff t % half == 0 (t in [1, n-1]), so
    # ZCR = floor((n-1)/half) / (n-1), float32-quantized like the
    # Arrow schema before the 4-decimal round
    "multimodal_audio": """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(800 AS BIGINT) AS n_samples,
               CAST(100 AS BIGINT) AS duration_ms,
               round(CAST(CAST(1000 + (doc_id % 100) * 10 AS FLOAT) AS DOUBLE), 2)
                   AS rms,
               round(CAST(CAST(
                   CAST(799 // (4 + (doc_id % 8)) AS DOUBLE) / 799.0
                   AS FLOAT) AS DOUBLE), 4) AS zero_crossing_rate
        FROM documents WHERE doc_id < 100
    """,
    # mirrors _feature_vector over synthetic_ppm_media pixels: dims,
    # per-channel means (exact multiples of 1/64), integer-exact
    # population std, min/max — all quantized through FLOAT exactly as
    # the array<float> feature schema does, so no rounding is needed
    "multimodal_features": """
        WITH px AS (
            SELECT doc_id, g3.c AS c,
                   CAST((doc_id * 31 + g1.y * 7 + g2.x * 3 + g3.c * 11) % 256
                        AS BIGINT) AS v
            FROM documents,
                 generate_series(0, 7) AS g1(y),
                 generate_series(0, 7) AS g2(x),
                 generate_series(0, 2) AS g3(c)
            WHERE doc_id < 200
        ), feats AS (
            SELECT doc_id,
                   avg(CASE WHEN c = 0 THEN v END) AS mean_r,
                   avg(CASE WHEN c = 1 THEN v END) AS mean_g,
                   avg(CASE WHEN c = 2 THEN v END) AS mean_b,
                   sqrt(CAST(count(*) * sum(v * v) - sum(v) * sum(v) AS DOUBLE)
                        / CAST(count(*) * count(*) AS DOUBLE)) AS std,
                   min(v) AS vmin,
                   max(v) AS vmax
            FROM px GROUP BY doc_id
        )
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(p.pos AS BIGINT) AS pos,
               CAST(CAST(CASE p.pos
                    WHEN 0 THEN 8 WHEN 1 THEN 8
                    WHEN 2 THEN mean_r WHEN 3 THEN mean_g WHEN 4 THEN mean_b
                    WHEN 5 THEN std WHEN 6 THEN vmin WHEN 7 THEN vmax
               END AS FLOAT) AS DOUBLE) AS value
        FROM feats, (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) AS p(pos)
        ORDER BY media_id, pos
    """,
    "multimodal_phash_neardup": f"""
    WITH cells AS (
      SELECT doc_id, g.k,
             ((doc_id*31 + (g.k // 8)*14 + (g.k % 8)*6) % 256)
           + ((doc_id*31 + (g.k // 8)*14 + (g.k % 8)*6 + 11) % 256)
           + ((doc_id*31 + (g.k // 8)*14 + (g.k % 8)*6 + 22) % 256) AS gray
      FROM documents, generate_series(0, 63) AS g(k)
      WHERE doc_id < 600
    ),
    tot AS (SELECT doc_id, sum(gray) AS total FROM cells GROUP BY doc_id),
    ph AS (
      SELECT c.doc_id,
             CAST(sum(CASE WHEN c.gray*64 > t.total
                           THEN (1::BIGINT << c.k) ELSE 0 END) AS BIGINT) AS phash
      FROM cells c JOIN tot t USING (doc_id)
      WHERE c.k < 60
      GROUP BY c.doc_id
    ),
    banded AS (
      SELECT doc_id, phash, b.band,
             CASE WHEN b.band < 3
                  THEN (phash >> (b.band*15)) & 32767
                  ELSE phash >> 45 END AS band_key
      FROM ph, generate_series(0, 3) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.phash AS pa,
                      b2.doc_id AS id_b, b2.phash AS pb
      FROM banded a
      JOIN banded b2 ON a.band = b2.band AND a.band_key = b2.band_key
                     AND a.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b, bit_count(xor(pa, pb)) AS hamming
      FROM cand WHERE bit_count(xor(pa, pb)) <= 3
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(bit_xor({_sql_hash64("(id_a || '|' || id_b)")}) AS BIGINT)
               AS pair_hash_xor
    FROM pairs
    GROUP BY hamming
    ORDER BY hamming
""",
    "multimodal_decode": """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels,
               round(avg((doc_id * 31 + g1.y * 7 + g2.x * 3) % 256), 6) AS mean_r,
               round(avg((doc_id * 31 + g1.y * 7 + g2.x * 3 + 11) % 256), 6) AS mean_g,
               round(avg((doc_id * 31 + g1.y * 7 + g2.x * 3 + 22) % 256), 6) AS mean_b
        FROM documents,
             generate_series(0, 7) AS g1(y),
             generate_series(0, 7) AS g2(x)
        WHERE doc_id < 300
        GROUP BY doc_id
    """,
    "multimodal_resize": """
        SELECT CAST(doc_id AS BIGINT) AS media_id,
               CAST(4 AS BIGINT) AS width,
               CAST(4 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels,
               round(avg((doc_id * 31 + g1.y * 14 + g2.x * 6) % 256), 6) AS mean_r,
               round(avg((doc_id * 31 + g1.y * 14 + g2.x * 6 + 11) % 256), 6) AS mean_g,
               round(avg((doc_id * 31 + g1.y * 14 + g2.x * 6 + 22) % 256), 6) AS mean_b
        FROM documents,
             generate_series(0, 3) AS g1(y),
             generate_series(0, 3) AS g2(x)
        WHERE doc_id < 300
        GROUP BY doc_id
    """,
}

# composed oracle: the hygiene pipeline is exactly its three stages
# joined on doc_id, so the oracle reuses their (already verified) SQL
# bodies as derived tables — one definition per stage, no drift
ORACLES["pipeline_corpus_hygiene"] = f"""
    SELECT d.doc_id, d.contamination, r.top_bigram_frac, r.dup_trigram_frac,
           b.boilerplate_frac,
           ((NOT d.is_contaminated) AND r.keep AND b.keep) AS keep
    FROM ({_decontaminate_oracle()}) d
    JOIN ({ORACLES["text_repetition_stats"]}) r ON d.doc_id = r.doc_id
    JOIN ({_boilerplate_oracle()}) b ON d.doc_id = b.doc_id
    ORDER BY d.doc_id
"""

# same composition pattern for the round-4 curation stack: reuse the
# three verified stage oracles, assert only the join + verdict here
ORACLES["pipeline_curation_v2"] = f"""
    SELECT c.doc_id, c.kept_frac, l.lm_bucket, v.oov_rate,
           (c.kept_frac >= 0.5 AND l.lm_bucket <> 'tail'
            AND v.oov_rate <= 0.25) AS keep
    FROM ({ORACLES["dedup_chunks"]}) c
    JOIN ({_bigram_lm_oracle()}) l ON c.doc_id = l.doc_id
    JOIN ({ORACLES["vocab_oov"]}) v ON c.doc_id = v.doc_id
    ORDER BY c.doc_id
"""


def _pq_train_cte(k: int, sub: int, iterations: int) -> str:
    """Chained-CTE replay of ``similarity.train_pq_codebooks``: the
    vector splits into subspaces of ``sub`` dims; per subspace,
    ``k`` L2 centroids seed from the lowest-id vectors and iterate with
    6-rounded distances (ties to the lower cid) and 6-rounded member
    means (empty cells keep the prior centroid) — the same rounded
    fixpoints the Spark trainer commits, so any engine replays the loop
    bit-for-bit.  Emits ``subcomps`` / ``pcent0..pcent{iterations}``."""
    parts = [
        f"""subcomps AS (
            SELECT vec_id,
                   CAST((generate_subscripts(embedding, 1) - 1) // {sub} AS INT) AS s,
                   (generate_subscripts(embedding, 1) - 1) % {sub} AS sd,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )""",
        f"""pseed AS (
            SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid, vec_id
            FROM (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT {k})
        )""",
        """pcent0 AS (
            SELECT p.cid, c.s, c.sd, c.x AS val
            FROM pseed p JOIN subcomps c USING (vec_id)
        )""",
    ]
    for t in range(1, iterations + 1):
        p = t - 1
        parts += [
            f"""pdist{t} AS (
                SELECT c.vec_id, c.s, kk.cid,
                       round(sum((c.x - kk.val) * (c.x - kk.val)), 6) AS d
                FROM subcomps c JOIN pcent{p} kk ON c.s = kk.s AND c.sd = kk.sd
                GROUP BY c.vec_id, c.s, kk.cid
            )""",
            f"""pasg{t} AS (
                SELECT vec_id, s, cid FROM (
                    SELECT vec_id, s, cid, row_number() OVER (
                        PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rn
                    FROM pdist{t}
                ) WHERE rn = 1
            )""",
            f"""pmean{t} AS (
                SELECT a.s, a.cid, c.sd, round(sum(c.x) / count(*), 6) AS val
                FROM pasg{t} a JOIN subcomps c
                  ON a.vec_id = c.vec_id AND a.s = c.s
                GROUP BY a.s, a.cid, c.sd
            )""",
            f"""pcent{t} AS (
                SELECT p.cid, p.s, p.sd, COALESCE(m.val, p.val) AS val
                FROM pcent{p} p LEFT JOIN pmean{t} m
                  ON p.s = m.s AND p.cid = m.cid AND p.sd = m.sd
            )""",
        ]
    return ",\n".join(parts)


# PQ/ADC replay: one more assignment round with the FINAL codebooks
# encodes every vector; the same distance relation doubles as each
# query's LUT, so the approximate distance is a (s,cid)-join + sum
ORACLES["ann_pq_topk"] = f"""
    WITH {_pq_train_cte(8, 16, 2)},
    pdistf AS (
        SELECT c.vec_id, c.s, kk.cid,
               round(sum((c.x - kk.val) * (c.x - kk.val)), 6) AS d
        FROM subcomps c JOIN pcent2 kk ON c.s = kk.s AND c.sd = kk.sd
        GROUP BY c.vec_id, c.s, kk.cid
    ),
    pasgf AS (
        SELECT vec_id, s, cid FROM (
            SELECT vec_id, s, cid, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rn
            FROM pdistf
        ) WHERE rn = 1
    ),
    adist AS (
        SELECT e.vec_id AS neighbor_id, q.vec_id AS query_id,
               round(sum(q.d), 6) AS adist
        FROM pasgf e JOIN pdistf q ON e.s = q.s AND e.cid = q.cid
        WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
        GROUP BY e.vec_id, q.vec_id
    ),
    r AS (
        SELECT query_id, neighbor_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id ASC) AS rn
        FROM adist
    )
    SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS qrank
    FROM r WHERE rn <= 10
"""


# canonicalization: components oracle x quality oracle, arg-max per
# cluster (quality desc, id asc)
ORACLES["dedup_canonicalize"] = f"""
    WITH comp AS ({ORACLES["dedup_components"]}),
    q AS (SELECT doc_id, quality FROM ({ORACLES["text_stats"]})),
    j AS (SELECT c.component, c.doc_id, q.quality
          FROM comp c JOIN q USING (doc_id)),
    r AS (SELECT *, row_number() OVER (PARTITION BY component
                       ORDER BY quality DESC, doc_id ASC) AS rn FROM j),
    m AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
          FROM j GROUP BY component)
    SELECT r.component, m.n_members, r.doc_id AS canonical_doc_id,
           r.quality AS best_quality
    FROM r JOIN m USING (component) WHERE r.rn = 1
"""


# recall report: built below (after ann_ivfpq_rerank) by composing the
# already-verified tier oracles — see _recall_tier_sql / ann_recall_report


# the composed index: IVF cell CTEs (cosine round-9 assignment, the
# ann_ivf_topk shape) x PQ CTEs (the ann_pq_topk shape); candidates are
# cell-mates only, ranked by the same (s,cid)-join ADC sum
ORACLES["ann_ivfpq_topk"] = f"""
    WITH {_pq_train_cte(8, 16, 2)},
    pdistf AS (
        SELECT c.vec_id, c.s, kk.cid,
               round(sum((c.x - kk.val) * (c.x - kk.val)), 6) AS d
        FROM subcomps c JOIN pcent2 kk ON c.s = kk.s AND c.sd = kk.sd
        GROUP BY c.vec_id, c.s, kk.cid
    ),
    pasgf AS (
        SELECT vec_id, s, cid FROM (
            SELECT vec_id, s, cid, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d ASC, cid ASC) AS rn
            FROM pdistf
        ) WHERE rn = 1
    ),
    cent AS (
        SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centv
        FROM embeddings ORDER BY vec_id ASC LIMIT 16
    ),
    assigned AS (
        SELECT vec_id AS neighbor_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                           c.centroid_id ASC) AS cr
            FROM embeddings e, cent c
        ) WHERE cr = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                           c.centroid_id ASC) AS cr
            FROM embeddings e, cent c
            WHERE e.vec_id < 5
        ) WHERE cr <= 4
    ),
    cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM assigned a JOIN probes p USING (centroid_id)
        WHERE a.neighbor_id <> p.query_id
    ),
    adist AS (
        SELECT c.query_id, c.neighbor_id, round(sum(q.d), 6) AS adist
        FROM cand c
        JOIN pasgf e ON e.vec_id = c.neighbor_id
        JOIN pdistf q ON q.vec_id = c.query_id
                     AND q.s = e.s AND q.cid = e.cid
        GROUP BY c.query_id, c.neighbor_id
    ),
    r AS (
        SELECT query_id, neighbor_id, adist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id ASC) AS rn
        FROM adist
    )
    SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS qrank
    FROM r WHERE rn <= 10
"""

# The persisted index searches the SAME model over the SAME corpus with
# the same nprobe — persistence changes where bytes live, not values —
# so the in-memory replay verifies it too; the file-level pruning that
# persistence adds is pinned by test_plans, not the hash.
# ADC shortlist + exact re-rank: reuse the full IVF-PQ replay up to the
# ADC ranking CTE, widen the cut to the 30-candidate shortlist, then
# score the shortlist with true 6-rounded cosine and re-rank (ties to
# the lower neighbor id, NULL cosines last — the cosine_topk contract)
ORACLES["ann_ivfpq_rerank"] = _must_replace(
    ORACLES["ann_ivfpq_topk"],
    """SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS qrank
    FROM r WHERE rn <= 10""",
    """, sl AS (SELECT query_id, neighbor_id FROM r WHERE rn <= 30),
    ex AS (
        SELECT s.query_id, s.neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(nv.embedding AS DOUBLE[])),
                     6) AS cos
        FROM sl s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings nv ON nv.vec_id = s.neighbor_id
    ),
    rr AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos DESC NULLS LAST, neighbor_id ASC) AS rn
        FROM ex
    )
    SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rerank
    FROM rr WHERE rn <= 10""",
    1,
)

# per-tier recall@10 vs exact — one verified-eval join per approximate
# tier, UNION ALL'd with a tier literal; the division is CAST to
# DOUBLE (never /10.0 — DuckDB's decimal path)
def _recall_tier_sql(tier: str, approx_oracle: str) -> str:
    return f"""
    SELECT '{tier}' AS tier, e.query_id,
           CAST(count(q.neighbor_id) AS BIGINT) AS n_overlap,
           round(CAST(count(q.neighbor_id) AS DOUBLE) / 10, 6) AS recall_at_10
    FROM ({ORACLES["ann_cosine_topk"]}) e
    LEFT JOIN ({approx_oracle}) q
      ON e.query_id = q.query_id AND e.neighbor_id = q.neighbor_id
    GROUP BY e.query_id
"""


ORACLES["ann_recall_report"] = " UNION ALL ".join(
    (
        _recall_tier_sql("int8", ORACLES["ann_quantized_topk"]),
        _recall_tier_sql("pq_adc", ORACLES["ann_pq_topk"]),
        _recall_tier_sql("pq_rerank", ORACLES["ann_ivfpq_rerank"]),
    )
)

# persisted index: same replay, but nlist is corpus-aware
# (sized_nlist = ceil(sqrt(n/8)), replayed from the oracle's own
# count() via a subquery LIMIT on the centroid-seed CTE — the
# dedup_semantic pattern), matching build_ivfpq_index_auto
ORACLES["ann_ivfpq_persisted"] = _must_replace(_must_replace(
    ORACLES["ann_ivfpq_topk"],
    "WITH ",
    "WITH nlsz AS (\n"
    "        SELECT CAST(greatest(1, ceil(sqrt(count(*) / 8.0))) AS BIGINT)"
    " AS nl\n"
    "        FROM embeddings\n"
    "    ),\n    ",
    1,
),
    "FROM embeddings ORDER BY vec_id ASC LIMIT 16",
    "FROM embeddings ORDER BY vec_id ASC LIMIT (SELECT nl FROM nlsz)",
    1,
)

# Append-maintained index: frozen-model assignment/encoding is per-row
# deterministic, so build(evens)+append(odds) equals build(union) with
# the same model — the union replay verifies the append lifecycle.
ORACLES["ann_ivfpq_append"] = ORACLES["ann_ivfpq_topk"]


def _kmeans_train_cte(nlist: int | str, iterations: int) -> str:
    """Chained-CTE replay of ``similarity.train_ivf_centroids``: seed
    with the ``nlist`` lowest-id vectors (dense cids), then per
    iteration unit-normalize, assign every vector by 6-rounded dot
    (ties to the lower cid), and take 6-rounded member means (empty
    cells keep the prior centroid).  The training loop rounds every
    fixpoint to 6 decimals precisely so an external engine can replay
    it bit-for-bit despite float accumulation-order differences.
    Emits CTEs ``comps`` / ``cent0..cent{iterations}``.

    ``nlist`` may be an int literal or an SQL scalar expression string
    (e.g. ``(SELECT nl FROM nl)``) — the latter lets an oracle replay
    corpus-aware sizing (dedup.sized_nlist) from its own count()."""
    parts = [
        """comps AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )""",
        f"""seed AS (
            SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cid, vec_id
            FROM (SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT {nlist})
        )""",
        """cent0 AS (
            SELECT s.cid, c.dim, c.x AS val
            FROM seed s JOIN comps c USING (vec_id)
        )""",
    ]
    for t in range(1, iterations + 1):
        p = t - 1
        parts += [
            f"""unit{t} AS (
                SELECT c.cid, c.dim,
                       c.val / (CASE WHEN n.n = 0 THEN 1.0 ELSE n.n END) AS u
                FROM cent{p} c JOIN (
                    SELECT cid, sqrt(sum(val * val)) AS n
                    FROM cent{p} GROUP BY cid
                ) n ON c.cid = n.cid
            )""",
            f"""dot{t} AS (
                SELECT c.vec_id, u.cid, round(sum(c.x * u.u), 6) AS d
                FROM comps c JOIN unit{t} u ON c.dim = u.dim
                GROUP BY c.vec_id, u.cid
            )""",
            f"""asg{t} AS (
                SELECT vec_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (
                        PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
                    FROM dot{t}
                ) WHERE rn = 1
            )""",
            f"""mean{t} AS (
                SELECT a.cid, c.dim, round(sum(c.x) / count(*), 6) AS val
                FROM asg{t} a JOIN comps c USING (vec_id)
                GROUP BY a.cid, c.dim
            )""",
            f"""cent{t} AS (
                SELECT p.cid, p.dim, COALESCE(m.val, p.val) AS val
                FROM cent{p} p LEFT JOIN mean{t} m
                  ON p.cid = m.cid AND p.dim = m.dim
            )""",
        ]
    return ",\n".join(parts)


# replays kmeans_assign (train 2 iterations, nlist=8) + the per-cluster
# rollup: final assignment repeats training's 6-rounded-dot argmax with
# the trained centroids, cos = rounded dot / vector norm
ORACLES["embedding_kmeans_clusters"] = f"""
    WITH {_kmeans_train_cte(8, 2)},
    unitf AS (
        SELECT c.cid, c.dim,
               c.val / (CASE WHEN n.n = 0 THEN 1.0 ELSE n.n END) AS u
        FROM cent2 c JOIN (
            SELECT cid, sqrt(sum(val * val)) AS n FROM cent2 GROUP BY cid
        ) n ON c.cid = n.cid
    ),
    dotf AS (
        SELECT c.vec_id, u.cid, round(sum(c.x * u.u), 6) AS d
        FROM comps c JOIN unitf u ON c.dim = u.dim
        GROUP BY c.vec_id, u.cid
    ),
    vnorm AS (
        SELECT vec_id, sqrt(sum(x * x)) AS nv FROM comps GROUP BY vec_id
    ),
    best AS (
        SELECT vec_id, cid, d FROM (
            SELECT vec_id, cid, d, row_number() OVER (
                PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM dotf
        ) WHERE rn = 1
    )
    SELECT CAST(b.cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(round(b.d / (CASE WHEN v.nv = 0 THEN NULL ELSE v.nv END),
                           6)), 6) AS avg_cos
    FROM best b JOIN vnorm v USING (vec_id)
    GROUP BY b.cid ORDER BY cluster_id
"""

# cluster-balanced diversity subsample: the kmeans replay's `best`
# assignment + the reservoir oracle's md5-rank idiom, 20 per cluster
ORACLES["embedding_balanced_sample"] = _must_replace(
    ORACLES["embedding_kmeans_clusters"],
    """SELECT CAST(b.cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(round(b.d / (CASE WHEN v.nv = 0 THEN NULL ELSE v.nv END),
                           6)), 6) AS avg_cos
    FROM best b JOIN vnorm v USING (vec_id)
    GROUP BY b.cid ORDER BY cluster_id""",
    """, samp AS (
        SELECT vec_id, cid, row_number() OVER (
            PARTITION BY cid
            ORDER BY ('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                     vec_id) AS rn
        FROM best
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id
    FROM samp WHERE rn <= 20
    ORDER BY cluster_id, vec_id""",
    1,
)

# replays ivf_topk over the TRAINED centroids (2 Lloyd's iterations):
# nearest-cell assignment and the 2-cell probe both use the 9-rounded
# cosine + lower-centroid-id tiebreak of similarity._nearest_centroids
ORACLES["ann_ivf_trained"] = f"""
    WITH {_kmeans_train_cte(8, 2)},
    centlist AS (
        SELECT cid, list(val ORDER BY dim) AS centv FROM cent2 GROUP BY cid
    ),
    assigned AS (
        SELECT vec_id AS neighbor_id, cv, cid FROM (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                           c.cid ASC) AS cr
            FROM embeddings e, centlist c
        ) WHERE cr = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, qv, cid FROM (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS qv, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                           c.cid ASC) AS cr
            FROM embeddings e, centlist c
            WHERE e.vec_id < 5
        ) WHERE cr <= 2
    ),
    s AS (
        SELECT query_id, neighbor_id,
               round(list_cosine_similarity(cv, qv), 6) AS cos
        FROM assigned JOIN probes USING (cid)
        WHERE neighbor_id <> query_id
    ),
    r AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM s
    )
    SELECT query_id, neighbor_id, cos, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 10
"""


ORACLES["dedup_semantic"] = f"""
    WITH nl AS (
        SELECT CAST(ceil(sqrt(count(*) / 8.0)) AS BIGINT) AS nl
        FROM embeddings
    ),
    {_kmeans_train_cte("(SELECT nl FROM nl)", 2)},
    centlist AS (
        SELECT cid, list(val ORDER BY dim) AS centv FROM cent2 GROUP BY cid
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, cv, cid FROM (
            SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS cv, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), c.centv), 9) DESC,
                           c.cid ASC) AS cr
            FROM embeddings e, centlist c
        ) WHERE cr = 1
    ),
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.cid = b.cid AND a.vec_id > b.vec_id
        WHERE round(list_cosine_similarity(a.cv, b.cv), 6)
              >= CAST(0.3 AS DOUBLE)
    )
    SELECT a.vec_id,
           CAST(a.cid AS BIGINT) AS centroid_id,
           (d.vec_id IS NULL) AS is_kept
    FROM assigned a LEFT JOIN dropped d USING (vec_id)
    ORDER BY a.vec_id
"""


def _bpe_train_ctes(num_merges: int, max_vocab: int) -> str:
    """The BPE training loop as chained MATERIALIZED CTEs — one
    (pair-extraction, argmax, guarded-pattern, merge-application) block
    per merge rank, mirroring operators/text.bpe_train_merges exactly:
    symbols wrapped as ``<sym>``, pair counts weighted by word
    frequency, argmax ties broken (count DESC, a ASC, b ASC), merges
    applied as leftmost-first string replaces.  MATERIALIZED is
    load-bearing: seg{{r}} is referenced by both the next round's pair
    scan and its merge application, so inlined CTEs would re-derive the
    chain exponentially.  chr(1) pattern guard makes rounds past
    merge-exhaustion no-ops (matches Python's early break)."""
    parts = [
        f"""words AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
    ),
    vocab AS MATERIALIZED (
        SELECT w, count(*) AS cnt FROM words GROUP BY w
        ORDER BY cnt DESC, w ASC LIMIT {max_vocab}
    ),
    seg0 AS MATERIALIZED (
        SELECT cnt, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq FROM vocab
    )"""
    ]
    for r in range(1, num_merges + 1):
        parts.append(
            f""",
    p{r} AS (
        SELECT cnt,
               unnest(list_zip(list_slice(l, 1, len(l) - 1),
                               list_slice(l, 2, len(l)))) AS pr
        FROM (SELECT cnt, str_split(trim(seq, '<>'), '><') AS l
              FROM seg{r - 1})
    ),
    m{r} AS MATERIALIZED (
        SELECT struct_extract(pr, 1) AS a, struct_extract(pr, 2) AS b,
               sum(cnt) AS c
        FROM p{r} WHERE struct_extract(pr, 2) IS NOT NULL
        GROUP BY 1, 2 ORDER BY c DESC, a ASC, b ASC LIMIT 1
    ),
    g{r} AS MATERIALIZED (
        SELECT coalesce('<' || a || '><' || b || '>', chr(1)) AS pat,
               coalesce('<' || a || b || '>', chr(1)) AS rep
        FROM (SELECT (SELECT a FROM m{r}) AS a, (SELECT b FROM m{r}) AS b)
    ),
    seg{r} AS MATERIALIZED (
        SELECT cnt, replace(seq, (SELECT pat FROM g{r}),
                            (SELECT rep FROM g{r})) AS seq
        FROM seg{r - 1}
    )"""
        )
    return "".join(parts)


def _bpe_apply_expr(num_merges: int, wrapped: str) -> str:
    """Nested replace() application of the trained merges, rank order
    innermost-first, over an already-wrapped symbol sequence."""
    expr = wrapped
    for r in range(1, num_merges + 1):
        expr = (
            f"replace({expr}, (SELECT pat FROM g{r}), (SELECT rep FROM g{r}))"
        )
    return expr


_BPE_R, _BPE_V = 16, 4096
#: wrap each char of a word as <c> (symbol encoding) — hoisted because
#: f-string expressions cannot contain the \\1 backreference
_BPE_WRAP = "regexp_replace(w, '(.)', '<\\1>', 'g')"

ORACLES["text_bpe_tokenize_xl"] = f"""
    WITH {_bpe_train_ctes(48, _BPE_V)},
    applied AS (
        SELECT {_bpe_apply_expr(48, _BPE_WRAP)} AS seq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents)
    ),
    toks AS (
        SELECT unnest(str_split(trim(seq, '<>'), '><')) AS token FROM applied
    )
    SELECT token, CAST(count(*) AS BIGINT) AS tok_count
    FROM toks GROUP BY token
    ORDER BY tok_count DESC, token ASC LIMIT 100
"""

def _bpe_8k_oracle() -> str:
    """Encode-half oracle for the realistic-vocabulary BPE query: the
    FROZEN 8,192-merge table ships as literal VALUES (model weights as
    input data — its provenance vs a retrain is test-pinned, and the
    48-merge xl sibling hash-verifies the trainer end to end), and the
    APPLY is replayed independently as rank-order replace via a
    recursive CTE over the corpus's distinct words (one iteration per
    merge rank — the literal chained-replace semantics the Arrow
    min-rank encoder is provably equivalent to, see
    text._bpe_encode_word).  Token counts then weight by word
    frequency.  ~9 s in DuckDB at sf0.01."""
    import json

    with open(_BPE_8K_FROZEN) as fh:
        merges = json.load(fh)["merges"]
    vals = ",".join(
        f"({i + 1},'<{a}><{b}>','<{a}{b}>')" for i, (a, b) in enumerate(merges)
    )
    return f"""
    WITH RECURSIVE merges(r, pat, rep) AS (VALUES {vals}),
    doc_words AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
    ),
    wc AS (SELECT w, count(*) AS cnt FROM doc_words GROUP BY w),
    apply(w, seq, r) AS (
        SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g'), 0 FROM wc
      UNION ALL
        SELECT a.w, replace(a.seq, m.pat, m.rep), a.r + 1
        FROM apply a JOIN merges m ON m.r = a.r + 1
    ),
    final AS (SELECT w, seq FROM apply WHERE r = {len(merges)}),
    toks AS (
        SELECT unnest(str_split(trim(f.seq, '<>'), '><')) AS token, wc.cnt
        FROM final f JOIN wc USING (w)
    )
    SELECT token, CAST(sum(cnt) AS BIGINT) AS tok_count
    FROM toks GROUP BY token
    ORDER BY tok_count DESC, token ASC LIMIT 100
"""


ORACLES["text_bpe_tokenize_8k"] = _bpe_8k_oracle()

ORACLES["text_bpe_tokenize"] = f"""
    WITH {_bpe_train_ctes(_BPE_R, _BPE_V)},
    applied AS (
        SELECT {_bpe_apply_expr(_BPE_R, _BPE_WRAP)} AS seq
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents)
    ),
    toks AS (
        SELECT unnest(str_split(trim(seq, '<>'), '><')) AS token FROM applied
    )
    SELECT token, CAST(count(*) AS BIGINT) AS tok_count
    FROM toks GROUP BY token
    ORDER BY tok_count DESC, token ASC LIMIT 100
"""

# per-doc accounting: token count per word = 1 + number of '><' symbol
# boundaries after merge application; LEFT JOIN keeps wordless docs at 0
ORACLES["text_bpe_token_stats"] = f"""
    WITH {_bpe_train_ctes(_BPE_R, _BPE_V)},
    doc_words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
    ),
    applied AS (
        SELECT doc_id,
               {_bpe_apply_expr(_BPE_R, _BPE_WRAP)} AS seq
        FROM doc_words
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(str_split(trim(seq, '<>'), '><'))) AS BIGINT)
                   AS n_bpe_tokens
        FROM applied GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_words, 0) AS n_words,
           coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""

# tokenizer training + token accounting + packing, one hash: the BPE
# CTE chain feeds per-doc counts into the SAME next-fit recurrence as
# the pack_sequences oracle
ORACLES["pack_sequences_bpe"] = f"""
    WITH RECURSIVE {_bpe_train_ctes(_BPE_R, _BPE_V)},
    doc_words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
    ),
    applied AS (
        SELECT doc_id, {_bpe_apply_expr(_BPE_R, _BPE_WRAP)} AS seq
        FROM doc_words
    ),
    bpe_cnt AS MATERIALIZED (
        SELECT doc_id,
               CAST(sum(len(str_split(trim(seq, '<>'), '><'))) AS BIGINT)
                   AS n_tokens
        FROM applied GROUP BY doc_id
    ),
    parts AS (
        SELECT doc_id, n_tokens,
               hv % 8 AS part,
               row_number() OVER (PARTITION BY hv % 8
                                  ORDER BY hv, doc_id) AS rn
        FROM (
            SELECT d.doc_id, coalesce(c.n_tokens, 0) AS n_tokens,
                   {_sql_hash64("CAST(d.doc_id AS VARCHAR)", seed=11)} AS hv
            FROM documents d LEFT JOIN bpe_cnt c USING (doc_id)
        )
    ), packed AS (
        SELECT part, rn, doc_id, n_tokens, n_tokens AS fill,
               CAST(0 AS BIGINT) AS bin
        FROM parts WHERE rn = 1
        UNION ALL
        SELECT t.part, t.rn, t.doc_id, t.n_tokens,
               CASE WHEN p.fill + t.n_tokens > 128
                    THEN t.n_tokens ELSE p.fill + t.n_tokens END,
               CASE WHEN p.fill + t.n_tokens > 128
                    THEN p.bin + 1 ELSE p.bin END
        FROM parts t JOIN packed p
          ON t.part = p.part AND t.rn = p.rn + 1
    )
    SELECT doc_id,
           CAST(part AS BIGINT) AS part,
           CAST(part * 4294967296 + bin AS BIGINT) AS bin_id,
           n_tokens
    FROM packed ORDER BY doc_id
"""


def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join through the REAL operator
    (joins.interval_overlap_join — previously test-only, r11 audit):
    both sides explode onto coarse buckets and equi-join, with a match
    accepted only in the bucket containing the overlap's start, so the
    result is duplicate-free WITHOUT a dedup shuffle.  The oracle is
    the plain theta join (l_lo <= r_hi AND r_lo <= l_hi) — a hash match
    proves the bucketing introduces no duplicates and drops no pairs.
    Deterministic integer intervals derived from the keys keep the
    bucket math exact on both engines."""
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 10).alias("s_lo"),
        (F.col("s_suppkey") * 10 + 15).alias("s_hi"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 7).alias("c_lo"),
        (F.col("c_custkey") * 7 + 9).alias("c_hi"),
    )
    out = joins.interval_overlap_join(
        cust, sup, "c_lo", "c_hi", "s_lo", "s_hi", bucket_width=64.0
    )
    return out.select(
        "c_custkey",
        "s_suppkey",
        F.greatest("c_lo", "s_lo").cast("bigint").alias("overlap_lo"),
        F.least("c_hi", "s_hi").cast("bigint").alias("overlap_hi"),
    )


ORACLES["interval_overlap_join"] = """
    WITH c AS (
        SELECT c_custkey, c_custkey * 7 AS c_lo, c_custkey * 7 + 9 AS c_hi
        FROM customer
    ),
    s AS (
        SELECT s_suppkey, s_suppkey * 10 AS s_lo, s_suppkey * 10 + 15 AS s_hi
        FROM supplier
    )
    SELECT c_custkey, s_suppkey,
           CAST(greatest(c_lo, s_lo) AS BIGINT) AS overlap_lo,
           CAST(least(c_hi, s_hi) AS BIGINT) AS overlap_hi
    FROM c JOIN s ON c_lo <= s_hi AND s_lo <= c_hi
"""


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (o_custkey, o_totalprice) — the clustering
    key behind :func:`sources.zorder.write_zordered` (the Delta
    ``OPTIMIZE ZORDER BY`` recipe), hash-verified end to end: bucket
    bounds come from an aggregate broadcast INSIDE the plan (no
    driver collect), and the bucket + bit-interleave arithmetic is ONE
    generated SQL expression (``zorder_sql``) evaluated by Spark here
    and replayed verbatim by the DuckDB oracle.  Map-only over the
    fact table: one narrow min/max aggregate broadcast plus codegen'd
    integer math per row — the 100 TB cost of choosing a layout is one
    extra column, the range shuffle that USES it is the writer's."""
    from yet_another_map_reduce_spark.sources.zorder import zorder_sql

    o = read_table(spark, sf_dir, "orders")
    g = o.agg(
        F.min("o_custkey").cast("double").alias("mn_c"),
        F.max("o_custkey").cast("double").alias("mx_c"),
        F.min("o_totalprice").cast("double").alias("mn_p"),
        F.max("o_totalprice").cast("double").alias("mx_p"),
    )
    z = zorder_sql(
        ["o_custkey", "o_totalprice"],
        {"o_custkey": ("mn_c", "mx_c"), "o_totalprice": ("mn_p", "mx_p")},
    )
    return o.crossJoin(F.broadcast(g)).select(
        "o_orderkey", F.expr(z).cast("bigint").alias("zval")
    )


def _zorder_oracle() -> str:
    from yet_another_map_reduce_spark.sources.zorder import zorder_sql

    z = zorder_sql(
        ["o_custkey", "o_totalprice"],
        {"o_custkey": ("mn_c", "mx_c"), "o_totalprice": ("mn_p", "mx_p")},
    )
    return f"""
    WITH g AS (
        SELECT CAST(min(o_custkey) AS DOUBLE) AS mn_c,
               CAST(max(o_custkey) AS DOUBLE) AS mx_c,
               CAST(min(o_totalprice) AS DOUBLE) AS mn_p,
               CAST(max(o_totalprice) AS DOUBLE) AS mx_p
        FROM orders
    )
    SELECT o_orderkey, CAST({z} AS BIGINT) AS zval
    FROM orders CROSS JOIN g
"""


ORACLES["zorder_values"] = _zorder_oracle()


#: scratch roots with a registered atexit cleanup (runtime session
#: state — the _TRACKED suffix excludes it from query fingerprints)
_SCRATCH_ROOTS_TRACKED: set[str] = set()


def _scratch_path(tag: str, sf_dir: str) -> str:
    """Per-process scratch dataset path for queries that exercise a
    write+read cycle.  pid-keyed so a concurrently-running second
    harness (driver gate + local parity) can never read this process's
    half-written files; repeated calls in ONE process (bench's timed
    runs) land on the same path and overwrite in place.  The whole
    per-pid root is rmtree'd at interpreter exit, so successive
    bench/gate processes don't accrete dataset copies under /tmp."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"yamr_scratch_{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    # registered on first sight of the root in THIS process (not only on
    # the mkdir branch: a stale root left by a crashed process with a
    # recycled pid must still get a cleanup registration) — the seen-set
    # guard keeps a bench loop from stacking thousands of identical
    # atexit callbacks
    if root not in _SCRATCH_ROOTS_TRACKED:
        _SCRATCH_ROOTS_TRACKED.add(root)
        atexit.register(shutil.rmtree, root, True)
    return os.path.join(
        root, f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    )


def q_avro_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pyavro DataSource under the hash gate: documents → Avro
    Object Container files (``sources/avro_format.py``, self-contained
    spec codec — no spark-avro jar in the env) → read back → per-lang
    aggregate whose values cover every roundtripped column (row counts,
    char sums, an md5-hash sum over doc_id|text).  The DuckDB oracle
    computes the SAME aggregate straight from the parquet table, so a
    hash match proves the avro write+read preserved every row and every
    byte of text — the roundtrip itself is what's verified (DuckDB has
    no avro reader; it doesn't need one).

    The container lands under the per-process scratch root
    (``_scratch_path``: overwritten across calls, rmtree'd at exit).
    Scale: the write fans out one container per
    partition; the read is one split-able scan — but see BASELINE.md
    r12: avro is the INGEST format here, parquet the serving one."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.sources import avro_format

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    out = _scratch_path("avro_rt", sf_dir)
    avro_format.write_avro(d, out, mode="overwrite")
    back = avro_format.read_avro(spark, out)
    return (
        back.withColumn(
            "h",
            md5_hash64(
                F.concat_ws(
                    "|",
                    F.col("doc_id"),
                    F.coalesce(F.col("text"), F.lit("<NULL>")),
                )
            ),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            # xor-fold, not sum: order-insensitive like sum but can't
            # overflow int64 under ANSI mode
            F.expr("bit_xor(h)").alias("text_hash_xor"),
        )
        .orderBy("lang")
    )


def q_yamr_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom ``yamr`` DataSource (the reference's manifest/part
    text format, ``sources/yamr_format.py`` — 2-phase commit, versioned
    manifests) under the hash gate, the same way ``avro_roundtrip_stats``
    gates pyavro: render every document as the reference's ``key,value``
    line contract (``/root/reference/Worker/worker.py:210`` — here
    ``doc_id,md5(text)``), write through the format, read it back, and
    fold the lines into an order-insensitive xor + count.  The DuckDB
    oracle builds the SAME lines straight from parquet, so a hash match
    proves the 2PC write + manifest-routed read preserved every line
    exactly.  The tmp dataset is recreated per call (rmtree + fresh
    version 1) so bench repetitions don't accrete time-travel versions."""
    import shutil

    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.sources import yamr_format

    yamr_format.register(spark)
    d = read_table(spark, sf_dir, "documents").select(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.md5(F.coalesce(F.col("text"), F.lit("<NULL>"))),
        ).alias("value")
    )
    out = _scratch_path("yamr_rt", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    (
        d.write.format("yamr")
        .option("path", out)
        .option("name", "docs")
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("yamr")
        .option("path", out)
        .option("name", "docs")
        .load()
    )
    return back.withColumn("h", md5_hash64(F.col("value"))).agg(
        F.count("*").alias("n_lines"),
        F.expr("bit_xor(h)").alias("line_hash_xor"),
    )


def q_jsonl_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_jsonl_quarantine`` under the hash gate: render documents
    as JSONL, deterministically mangle every ``doc_id % 37 == 0`` line
    into invalid JSON, write as text, read back through the quarantine
    split, and fold both halves into order-insensitive stats.  The
    oracle computes the SAME stats straight from the table (corruption
    membership is a pure function of doc_id), so a green hash certifies
    the JSON render→parse roundtrip, the good/bad routing, and that
    quarantine preserves raw lines verbatim — nothing killed, nothing
    silently dropped."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.sources.readers import (
        read_jsonl_quarantine,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mangled = d.select(
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.lit("{bad "), F.col("doc_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("doc_id", "text", "lang")))
        .alias("value")
    )
    out = _scratch_path("jsonl_q", sf_dir)
    mangled.write.mode("overwrite").text(out)
    good, bad = read_jsonl_quarantine(
        spark, out, "doc_id bigint, text string, lang string"
    )
    # hash the parsed columns on the good half, the verbatim raw line
    # on the quarantine half
    g = (
        good.withColumn(
            "h",
            md5_hash64(
                F.concat_ws(
                    "|",
                    F.col("doc_id"),
                    F.coalesce(F.col("text"), F.lit("<NULL>")),
                    F.coalesce(F.col("lang"), F.lit("<NULL>")),
                )
            ),
        )
        .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("hx"))
        .select(F.lit("good").alias("half"), "n", "hx")
    )
    b = (
        bad.withColumn("h", md5_hash64(F.col("raw_line")))
        .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("hx"))
        .select(F.lit("quarantined").alias("half"), "n", "hx")
    )
    return g.unionAll(b).orderBy("half")


ORACLES["jsonl_quarantine_stats"] = f"""
    SELECT 'good' AS half,
           CAST(count(*) AS BIGINT) AS n,
           CAST(bit_xor({_sql_hash64(
               "(doc_id || '|' || coalesce(text, '<NULL>') || '|' || "
               "coalesce(lang, '<NULL>'))"
           )}) AS BIGINT) AS hx
    FROM documents WHERE doc_id % 37 <> 0
    UNION ALL
    SELECT 'quarantined' AS half,
           CAST(count(*) AS BIGINT) AS n,
           CAST(bit_xor({_sql_hash64("(chr(123) || 'bad ' || doc_id)")}) AS BIGINT) AS hx
    FROM documents WHERE doc_id % 37 = 0
    ORDER BY half
"""


def q_ingest_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END ingest pipeline (``streaming/ingest.py`` — the
    flagship composition) as a batch-mode oracle row: three ordered
    micro-batches of documents with PLANTED duplicates (ten in-batch
    clones inside batch 0, ten cross-batch re-crawls of batch-0 texts
    inside batch 1, ten of batch-1 texts inside batch 2) run through
    bootstrap-build → ``ingest_batch`` × 2: incremental dedup against
    the accumulated seen relation, the frozen-weights quality gate
    (margin = 16·f_stop − f_tokens > 0), hash-embed, exactly-once
    IVF-PQ index append, fingerprint recording.  The result reads the
    FINAL PERSISTED STATE back — indexed ids come from the committed
    index's own parquet segments, seen fingerprints from the seen
    relation — so a green hash certifies what the pipeline durably
    wrote, not what it computed in flight.  Oracle: clones all carry
    higher ids than their originals and batches are ordered id ranges,
    so the surviving set is exactly ``min(doc_id) per fingerprint``;
    gate features replay via the shared classifier-feature SQL twins.
    Scratch dirs are wiped up front: every run is a full fresh replay
    (cross-run idempotency is pinned separately by the streaming
    crash-consistency tests)."""
    import shutil

    from yet_another_map_reduce_spark.streaming.ingest import ingest_batch

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 450)

    def clones(lo: int, hi: int, offset: int) -> DataFrame:
        return docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).withColumn("doc_id", F.col("doc_id") + offset)

    batches = [
        base.where(F.col("doc_id") < 150).unionByName(clones(0, 10, 10_000)),
        base.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)).unionByName(
            clones(10, 20, 20_000)
        ),
        base.where(F.col("doc_id") >= 300).unionByName(clones(150, 160, 30_000)),
    ]
    weights = [0, -1, 0, 16, 0]  # margin = 16*f_stop - f_tokens
    root = _scratch_path("ingest_pipe", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    index_dir = os.path.join(root, "idx")
    seen_dir = os.path.join(root, "seen")

    # bootstrap (the documented contract: the index build is a batch
    # job) — batch 0 dedups within itself, gates, builds the index
    b0 = batches[0]
    surv0 = b0.join(
        dedup.incremental_dedup(b0, b0.limit(0), "text", "doc_id").select("doc_id"),
        "doc_id",
    )
    gated0 = classify.quality_gate(
        with_classifier_features(surv0), weights, _CLASSIFIER_FEATURE_COLS
    )
    vec0 = text.hash_embed_dense(
        gated0.select("doc_id", "text"), "text", "doc_id", dim=16
    ).persist()  # codebook training + the build both consume it
    try:
        similarity.build_ivfpq_index_auto(
            vec0,
            "doc_id",
            "embedding",
            index_dir,
            # light training config: this row certifies the pipeline
            # orchestration + durable state (ids in the committed index),
            # not quantization quality — the ann_* rows own that
            books=similarity.train_pq_codebooks(
                vec0, "doc_id", "embedding", m=2, k=4, iterations=1
            ),
        )
    finally:
        vec0.unpersist()
    dedup.batch_fingerprints(b0, "text").write.mode("overwrite").parquet(
        os.path.join(seen_dir, "batch=0")
    )

    for i in (1, 2):
        ingest_batch(
            batches[i],
            i,
            index_dir=index_dir,
            seen_dir=seen_dir,
            weights=weights,
            feature_cols=_CLASSIFIER_FEATURE_COLS,
            featurize=with_classifier_features,
            embed_dim=16,
        )

    from functools import reduce as _reduce

    idx_rows = _reduce(
        DataFrame.unionByName,
        [
            seg.select(F.col("neighbor_id").alias("doc_id"))
            for seg in similarity._index_segments(spark, index_dir)
        ],
    )
    idx = (
        idx_rows
        .withColumn("h", md5_hash64(F.col("doc_id").cast("string")))
        .agg(
            F.count("*").alias("n_indexed"),
            F.expr("bit_xor(h)").alias("indexed_hash_xor"),
        )
    )
    seen_fps = (
        spark.read.parquet(seen_dir)
        .where(F.col("fp").isNotNull())
        .select("fp")
        .distinct()
        .agg(F.count("*").alias("n_seen_fps"))
    )
    n_in = (
        batches[0]
        .unionByName(batches[1])
        .unionByName(batches[2])
        .agg(F.count("*").alias("n_docs_in"))
    )
    return n_in.crossJoin(seen_fps).crossJoin(idx).select(
        "n_docs_in", "n_seen_fps", "n_indexed", "indexed_hash_xor"
    )


def _dct_phash_oracle() -> str:
    """ANSI-SQL replay of ``image_phash(kind="dct")`` over the 16x16
    synthetic fixture: the SAME fixed-point coefficient table the Spark
    kernel computes (``multimodal.dct_coeff_table(16)``) is inlined as
    literals, so rounding happens exactly once, in Python — the SQL
    never calls cos().  The separable DCT runs as two integer matmul
    passes (rows then columns), keeping the join fan-out at
    docs x 256 x 8 instead of docs x 256 x 64."""
    from yet_another_map_reduce_spark.operators.multimodal import dct_coeff_table

    c_rows = ",".join(
        f"({u},{k},{v})"
        for u, crow in enumerate(dct_coeff_table(16))
        for k, v in enumerate(crow)
    )
    return f"""
    WITH c(u, k, v) AS (VALUES {c_rows}),
    gray AS (
      SELECT doc_id, yy.y AS y, xx.x AS x,
          ((doc_id*31 + yy.y*7 + xx.x*3) % 256)
        + ((doc_id*31 + yy.y*7 + xx.x*3 + 11) % 256)
        + ((doc_id*31 + yy.y*7 + xx.x*3 + 22) % 256) AS g
      FROM documents,
           generate_series(0, 15) AS yy(y),
           generate_series(0, 15) AS xx(x)
      WHERE doc_id < 200
    ),
    rowt AS (
      SELECT gray.doc_id, c.u, gray.x,
             CAST(sum(CAST(c.v AS BIGINT) * gray.g) AS BIGINT) AS r
      FROM gray JOIN c ON c.k = gray.y
      WHERE c.u < 8
      GROUP BY gray.doc_id, c.u, gray.x
    ),
    coef AS (
      SELECT rowt.doc_id, rowt.u, c.u AS vf,
             CAST(sum(CAST(c.v AS BIGINT) * rowt.r) AS BIGINT) AS f
      FROM rowt JOIN c ON c.k = rowt.x
      WHERE c.u < 8
      GROUP BY rowt.doc_id, rowt.u, c.u
    ),
    blk AS (SELECT doc_id, u*8 + vf AS k, f FROM coef),
    med AS (
      SELECT doc_id, f AS m FROM (
        SELECT doc_id, f,
               row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rn
        FROM blk WHERE k > 0
      ) WHERE rn = 32
    ),
    ph AS (
      -- DC (k=0) excluded from the pack, matching the Spark kernel:
      -- AC coefficients 1..60 land in bits 0..59
      SELECT blk.doc_id,
             CAST(sum(CASE WHEN blk.f > med.m
                           THEN (1::BIGINT << (blk.k - 1)) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM blk JOIN med USING (doc_id)
      WHERE blk.k BETWEEN 1 AND 60
      GROUP BY blk.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id, phash, TRUE AS decodable
    FROM ph ORDER BY media_id
"""


ORACLES["multimodal_phash_dct"] = _dct_phash_oracle()

def _audio_neardup_oracle() -> str:
    """Two-tier oracle: the sign fingerprint is a closed form of the
    square-wave rule; the spectral fingerprint replays the kernel's
    integer DFT from the SAME fixed-point tables
    (``multimodal.spectral_dft_tables``, scale 2^7) inlined as
    literals — rounding happens once, in Python, never in SQL."""
    from yet_another_map_reduce_spark.operators.multimodal import (
        spectral_dft_tables,
    )

    cos_t, sin_t = spectral_dft_tables()
    c_rows = ",".join(
        f"({k + 1},{t},{cos_t[k][t]},{sin_t[k][t]})"
        for k in range(len(cos_t))
        for t in range(len(cos_t[k]))
    )
    return f"""
    WITH c(k, t, cv, sv) AS (VALUES {c_rows}),
    sfp_sign AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN ((g.k * 13) // (4 + (doc_id % 8))) % 2 = 0
                           THEN (1::BIGINT << g.k) ELSE 0 END) AS BIGINT) AS afp
      FROM documents, generate_series(0, 59) AS g(k)
      WHERE doc_id < 300
      GROUP BY doc_id
    ),
    samp AS (
      SELECT doc_id, g.t AS t,
             CAST((1000 + (doc_id % 100) * 10)
                  * (CASE WHEN ((g.t // (4 + (doc_id % 8))) % 2) = 0
                          THEN 1 ELSE -1 END) AS BIGINT) AS s
      FROM documents, generate_series(0, 767) AS g(t)
      WHERE doc_id < 300
    ),
    e AS (
      SELECT samp.doc_id, samp.t // 64 AS f, c.k,
             CAST(sum(samp.s * c.cv) AS BIGINT) AS re,
             CAST(sum(samp.s * c.sv) AS BIGINT) AS im
      FROM samp JOIN c ON c.t = samp.t % 64
      GROUP BY samp.doc_id, samp.t // 64, c.k
    ),
    en AS (SELECT doc_id, f, k, re*re + im*im AS nrg FROM e),
    bd AS (
      SELECT a.doc_id, a.f, a.k - 1 AS b, a.nrg - b2.nrg AS d
      FROM en a JOIN en b2 ON a.doc_id = b2.doc_id AND a.f = b2.f
                           AND b2.k = a.k + 1
    ),
    bits AS (
      SELECT cur.doc_id, cur.f * 5 + cur.b AS i,
             CASE WHEN cur.d - coalesce(prev.d, 0) > 0 THEN 1 ELSE 0 END AS bit
      FROM bd cur LEFT JOIN bd prev
        ON prev.doc_id = cur.doc_id AND prev.f = cur.f - 1 AND prev.b = cur.b
    ),
    sfp_spec AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bit = 1 THEN (1::BIGINT << i)
                           ELSE 0 END) AS BIGINT) AS afp
      FROM bits GROUP BY doc_id
    ),
    fp AS (
      SELECT 'sign' AS tier, doc_id, afp FROM sfp_sign
      UNION ALL
      SELECT 'spectral' AS tier, doc_id, afp FROM sfp_spec
    ),
    banded AS (
      SELECT tier, doc_id, afp, b.band,
             CASE WHEN b.band < 3
                  THEN (afp >> (b.band*15)) & 32767
                  ELSE afp >> 45 END AS band_key
      FROM fp, generate_series(0, 3) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.tier, a.doc_id AS id_a, a.afp AS fa,
                      b2.doc_id AS id_b, b2.afp AS fb
      FROM banded a
      JOIN banded b2 ON a.tier = b2.tier AND a.band = b2.band
                     AND a.band_key = b2.band_key
                     AND a.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT tier, id_a, id_b, bit_count(xor(fa, fb)) AS hamming
      FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    )
    SELECT tier,
           CAST(hamming AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(bit_xor({_sql_hash64("(id_a || '|' || id_b)")}) AS BIGINT)
               AS pair_hash_xor
    FROM pairs
    GROUP BY tier, hamming
    ORDER BY tier, hamming
"""


ORACLES["multimodal_audio_neardup"] = _audio_neardup_oracle()

ORACLES["ingest_pipeline_stats"] = f"""
    WITH base AS (
      SELECT doc_id, text, md5({_TEXT_NORM}) AS fp
      FROM documents WHERE doc_id < 450
    ),
    surv AS (  -- clones always have higher ids than their originals and
               -- batches are ordered id ranges, so the pipeline's
               -- survivor set is exactly min(doc_id) per fingerprint
      SELECT min(doc_id) AS doc_id FROM base GROUP BY fp
    ),
    gated AS (
      SELECT b.doc_id
      FROM base b JOIN surv USING (doc_id)
      WHERE 16 * len(list_filter(string_split({_TEXT_NORM}, ' '),
                                 t -> t IN {_STOPLIST}))
            - len(string_split({_TEXT_NORM}, ' ')) > 0
    )
    -- the planted clones copy doc_ids 0-19 and 150-159: 30 of them when
    -- those ids exist, none on an empty corpus
    SELECT CAST((SELECT count(*) FROM base)
                + (SELECT count(*) FROM base
                   WHERE doc_id < 20 OR (doc_id >= 150 AND doc_id < 160)) AS BIGINT)
             AS n_docs_in,
           CAST((SELECT count(DISTINCT fp) FROM base) AS BIGINT) AS n_seen_fps,
           CAST(count(*) AS BIGINT) AS n_indexed,
           CAST(bit_xor({_sql_hash64("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS indexed_hash_xor
    FROM gated
"""

ORACLES["multimodal_video_neardup"] = f"""
    WITH fr AS (
      SELECT doc_id AS vid, ff.f AS fidx, doc_id*1000 + ff.f AS m
      FROM documents, generate_series(0, 5) AS ff(f)
      WHERE doc_id < 400
    ),
    cells AS (
      SELECT fr.vid, fr.fidx, g.k,
          ((fr.m*31 + (g.k // 8)*7 + (g.k % 8)*3) % 256)
        + ((fr.m*31 + (g.k // 8)*7 + (g.k % 8)*3 + 11) % 256)
        + ((fr.m*31 + (g.k // 8)*7 + (g.k % 8)*3 + 22) % 256) AS gray
      FROM fr, generate_series(0, 63) AS g(k)
    ),
    tot AS (SELECT vid, fidx, sum(gray) AS total FROM cells GROUP BY vid, fidx),
    ph AS (
      SELECT c.vid, c.fidx,
             CAST(sum(CASE WHEN c.gray*64 > t.total
                           THEN (1::BIGINT << c.k) ELSE 0 END) AS BIGINT) AS phash
      FROM cells c JOIN tot t USING (vid, fidx)
      WHERE c.k < 60
      GROUP BY c.vid, c.fidx
    ),
    banded AS (
      SELECT vid, fidx, phash, b.band,
             CASE WHEN b.band < 3
                  THEN (phash >> (b.band*15)) & 32767
                  ELSE phash >> 45 END AS band_key
      FROM ph, generate_series(0, 3) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.vid AS va, a.fidx AS fa, a.phash AS pa,
                      b2.vid AS vb, b2.fidx AS fb, b2.phash AS pb
      FROM banded a
      JOIN banded b2 ON a.band = b2.band AND a.band_key = b2.band_key
        AND (a.vid*1048576 + a.fidx) < (b2.vid*1048576 + b2.fidx)
    ),
    fpairs AS (
      SELECT va, vb, bit_count(xor(pa, pb)) AS hamming
      FROM cand
      WHERE bit_count(xor(pa, pb)) <= 3 AND va <> vb
    ),
    cpairs AS (
      SELECT least(va, vb) AS id_a, greatest(va, vb) AS id_b,
             count(*) AS n_frame_pairs, min(hamming) AS min_hamming
      FROM fpairs GROUP BY 1, 2
    )
    SELECT CAST(min_hamming AS BIGINT) AS min_hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(n_frame_pairs) AS BIGINT) AS n_frame_pairs_total,
           CAST(bit_xor({_sql_hash64("(id_a || '|' || id_b || '|' || n_frame_pairs)")}) AS BIGINT)
               AS pair_hash_xor
    FROM cpairs
    GROUP BY min_hamming
    ORDER BY min_hamming
"""


def q_avro_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The land-then-convert operator (``avro_format.avro_to_parquet``,
    the r12 posture made first-class) under the hash gate: documents →
    avro containers → ONE conversion call (sync-split read → sized,
    shuffle-free parquet write) → the per-lang aggregate computed from
    the CONVERTED PARQUET.  The oracle computes the same aggregate from
    the source table, so a hash match certifies the whole
    land→convert→serve path end to end — which is exactly what a 100 TB
    avro user runs."""
    from yet_another_map_reduce_spark.functions import md5_hash64
    from yet_another_map_reduce_spark.sources import avro_format

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    land = _scratch_path("avro_land", sf_dir)
    served = _scratch_path("avro_served", sf_dir)
    avro_format.write_avro(d, land, mode="overwrite")
    avro_format.avro_to_parquet(spark, land, served)
    return (
        spark.read.parquet(served)
        .withColumn(
            "h",
            md5_hash64(
                F.concat_ws(
                    "|",
                    F.col("doc_id"),
                    F.coalesce(F.col("text"), F.lit("<NULL>")),
                )
            ),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.expr("bit_xor(h)").alias("text_hash_xor"),
        )
        .orderBy("lang")
    )


ORACLES["avro_convert_stats"] = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(bit_xor({_sql_hash64("(doc_id || '|' || coalesce(text, '<NULL>'))")})
                AS BIGINT) AS text_hash_xor
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""

ORACLES["avro_roundtrip_stats"] = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(bit_xor({_sql_hash64("(doc_id || '|' || coalesce(text, '<NULL>'))")})
                AS BIGINT) AS text_hash_xor
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""

ORACLES["yamr_roundtrip_stats"] = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(bit_xor({_sql_hash64(
               "(doc_id || ',' || md5(coalesce(text, '<NULL>')))"
           )}) AS BIGINT) AS line_hash_xor
    FROM documents
"""


# ===========================================================================
# registry
# ===========================================================================

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # registry order = driver visit order: queries WITHOUT a round-1
    # CORRECTNESS row come first (cheapest first) so a budgeted driver
    # pass reaches them before re-verifying round-1-green entries.
    "string_functions_extra": q_string_functions_extra,
    "array_functions": q_array_functions,
    "text_redact_pii": q_text_redact_pii,
    "multimodal_meta": q_multimodal_meta,
    "regexp_functions": q_regexp_functions,
    "window_first_last": q_window_first_last,
    "subquery_correlated": q_subquery_correlated,
    "window_tumbling": q_window_tumbling,
    "window_sliding": q_window_sliding,
    "dedup_exact": q_dedup_exact,
    "dedup_chunks": q_dedup_chunks,
    "dedup_duplicated_spans": q_dedup_duplicated_spans,
    "lateral_join": q_lateral_join,
    "agg_statistical": q_agg_statistical,
    "unpivot_metrics": q_unpivot_metrics,
    "tpch_q14_promo_share": q_tpch_q14_promo_share,
    "hof_array_pipeline": q_hof_array_pipeline,
    "datetime_functions": q_datetime_functions,
    "window_rank_extras": q_window_rank_extras,
    "salted_agg": q_salted_agg,
    "json_from_struct": q_json_from_struct,
    "window_session": q_window_session,
    "dedup_incremental": q_dedup_incremental,
    "dedup_semantic": q_dedup_semantic,
    "cross_join_small": q_cross_join_small,
    "recursive_hierarchy": q_recursive_hierarchy,
    "group_by_all": q_group_by_all,
    "fuzzy_match_entities": q_fuzzy_match_entities,
    "try_functions": q_try_functions,
    "tpch_q4_priority": q_tpch_q4_priority,
    "json_variant": q_json_variant,
    "tpch_q13_cust_distribution": q_tpch_q13_cust_distribution,
    "tpch_q17_small_qty_revenue": q_tpch_q17_small_qty_revenue,
    "agg_conditional": q_agg_conditional,
    "agg_collect_sorted": q_agg_collect_sorted,
    "dedup_keep_best": q_dedup_keep_best,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "tpch_q22_idle_customers": q_tpch_q22_idle_customers,
    "events_retention": q_events_retention,
    "tpch_q19_discounted_revenue": q_tpch_q19_discounted_revenue,
    "sessionize_gaps": q_sessionize_gaps,
    "udf_pandas_scalar": q_udf_pandas_scalar,
    "udaf_weighted_avg": q_udaf_weighted_avg,
    "udtf_tokenize": q_udtf_tokenize,
    "text_chunking": q_text_chunking,
    "text_bpe_tokenize": q_text_bpe_tokenize,
    "text_bpe_tokenize_xl": q_text_bpe_tokenize_xl,
    "text_bpe_tokenize_8k": q_text_bpe_tokenize_8k,
    "text_bpe_token_stats": q_text_bpe_token_stats,
    "pack_sequences_bpe": q_pack_sequences_bpe,
    "text_decontaminate": q_text_decontaminate,
    "text_repetition_stats": q_text_repetition_stats,
    "text_line_dedup": q_text_line_dedup,
    "text_bigram_lm": q_text_bigram_lm,
    "vocab_oov": q_vocab_oov,
    "pmi_cooccurrence": q_pmi_cooccurrence,
    "pipeline_curation_v2": q_pipeline_curation_v2,
    "text_fingerprint_winnow": q_text_fingerprint_winnow,
    "text_hash_embed": q_text_hash_embed,
    "text_bm25_search": q_text_bm25_search,
    "histogram_equidepth": q_histogram_equidepth,
    "corpus_boilerplate_ngrams": q_corpus_boilerplate_ngrams,
    "pipeline_corpus_hygiene": q_pipeline_corpus_hygiene,
    "ann_cosine_topk": q_ann_cosine_topk,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q18_large_orders": q_tpch_q18_large_orders,
    "events_funnel": q_events_funnel,
    "agg_statistics": q_agg_statistics,
    "tpch_q11_important_parts": q_tpch_q11_important_parts,
    "tpch_q12_ship_priority": q_tpch_q12_ship_priority,
    "udf_mapinpandas": q_udf_mapinpandas,
    "salted_join": q_salted_join,
    "lateral_topk_per_order": q_lateral_topk_per_order,
    "tpch_q10_returned_items": q_tpch_q10_returned_items,
    "tpch_q9_product_profit": q_tpch_q9_product_profit,
    "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
    "tpch_q21_waiting_suppliers": q_tpch_q21_waiting_suppliers,
    "text_stats": q_text_stats,
    "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
    "tpch_q7_volume_shipping": q_tpch_q7_volume_shipping,
    "dedup_minhash_signatures": q_dedup_minhash_signatures,
    "tpch_q20_excess_suppliers": q_tpch_q20_excess_suppliers,
    "tpch_q2_min_cost_supplier": q_tpch_q2_min_cost_supplier,
    "tpch_q8_market_share": q_tpch_q8_market_share,
    "pipeline_training_data": q_pipeline_training_data,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_banded": q_dedup_simhash_banded,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_phash_neardup": q_multimodal_phash_neardup,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_video_frames": q_multimodal_video_frames,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_threshold_sweep": q_dedup_threshold_sweep,
    "sql_cte": q_sql_cte,
    "dedup_components": q_dedup_components,
    "agg_hll_sketch": q_agg_hll_sketch,
    "agg_hll_rollup": q_agg_hll_rollup,
    "pack_sequences": q_pack_sequences,
    "agg_approx_distinct": q_agg_approx_distinct,
    "sample_stratified": q_sample_stratified,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_quantized_topk": q_ann_quantized_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_rerank": q_ann_ivfpq_rerank,
    "ann_recall_report": q_ann_recall_report,
    "ann_ivfpq_persisted": q_ann_ivfpq_persisted,
    "ann_ivfpq_append": q_ann_ivfpq_append,
    "events_funnel_users": q_events_funnel_users,
    "map_higher_order": q_map_higher_order,
    "csv_functions": q_csv_functions,
    "dedup_canonicalize": q_dedup_canonicalize,
    "corpus_mixture_report": q_corpus_mixture_report,
    "skew_report": q_skew_report,
    "embedding_kmeans_clusters": q_embedding_kmeans_clusters,
    "embedding_balanced_sample": q_embedding_balanced_sample,
    "ann_ivf_trained": q_ann_ivf_trained,
    "multimodal_features": q_multimodal_features,
    "agg_percentiles_approx": q_agg_percentiles_approx,
    "dedup_components_star": q_dedup_components_star,
    "heavy_hitters_tokens": q_heavy_hitters_tokens,
    # round-1 driver-verified (CORRECTNESS_r01.json) below
    "bitwise_functions": q_bitwise_functions,
    "filter_project": q_filter_project,
    "sort_topk": q_sort_topk,
    "window_running_sum": q_window_running_sum,
    "window_lag": q_window_lag,
    "json_extract": q_json_extract,
    "explode_tokens": q_explode_tokens,
    "tpch_q6_revenue": q_tpch_q6_revenue,
    "null_functions": q_null_functions,
    "map_functions": q_map_functions,
    "unpivot": q_unpivot,
    "set_union": q_set_union,
    "set_except": q_set_except,
    "join_semi": q_join_semi,
    "window_range_frame": q_window_range_frame,
    "window_rank": q_window_rank,
    "window_topk_per_group": q_window_topk_per_group,
    "set_intersect": q_set_intersect,
    "flagship_max_price": q_flagship_max_price,
    "pricing_summary": q_pricing_summary,
    "scalar_functions": q_scalar_functions,
    "join_anti": q_join_anti,
    "agg_cube": q_agg_cube,
    "agg_grouping_sets": q_agg_grouping_sets,
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "histogram_totalprice": q_histogram_totalprice,
    "join_customer_orders": q_join_customer_orders,
    "join_left_outer": q_join_left_outer,
    "pivot": q_pivot,
    "sample_reservoir_group": q_sample_reservoir_group,
    "scd2_intervals": q_scd2_intervals,
    "events_ohlc": q_events_ohlc,
    "events_rollup_hypertable": q_events_rollup_hypertable,
    "agg_rollup": q_agg_rollup,
    "window_time_range": q_window_time_range,
    "profile_columns": q_profile_columns,
    "outlier_zscore": q_outlier_zscore,
    "asof_join": q_asof_join,
    "agg_distinct": q_agg_distinct,
    "merge_upsert": q_merge_upsert,
    "timeseries_gapfill": q_timeseries_gapfill,
    "timeseries_ewma": q_timeseries_ewma,
    "window_value_range": q_window_value_range,
    "agg_grouping_id": q_agg_grouping_id,
    "range_join": q_range_join,
    "agg_median": q_agg_median,
    "sample_hash_split": q_sample_hash_split,
    "corpus_shuffle": q_corpus_shuffle,
    "corpus_mixture_sample": q_corpus_mixture_sample,
    "corpus_rebalance_langs": q_corpus_rebalance_langs,
    "corpus_mixture_temperature": q_corpus_mixture_temperature,
    "split_leakage_report": q_split_leakage_report,
    "join_revenue_by_nation": q_join_revenue_by_nation,
    "tfidf_top_terms": q_tfidf_top_terms,
    "rdd_wordcount": q_rdd_wordcount,
    "df_wordcount": q_df_wordcount,
    "udf_cogrouped": q_udf_cogrouped,
    "quality_percentile_filter": q_quality_percentile_filter,
    "quality_classifier_train": q_quality_classifier_train,
    "quality_classifier_train_avg": q_quality_classifier_train_avg,
    "quality_classifier_apply": q_quality_classifier_apply,
    "pipeline_autocurate": q_pipeline_autocurate,
    "feature_scaling": q_feature_scaling,
    "graph_pagerank": q_graph_pagerank,
    "graph_pagerank_cached": q_graph_pagerank_cached,
    "interval_overlap_join": q_interval_overlap_join,
    "zorder_values": q_zorder_values,
    "avro_roundtrip_stats": q_avro_roundtrip_stats,
    "avro_convert_stats": q_avro_convert_stats,
    "yamr_roundtrip_stats": q_yamr_roundtrip_stats,
    "jsonl_quarantine_stats": q_jsonl_quarantine_stats,
    "multimodal_phash_dct": q_multimodal_phash_dct,
    "multimodal_video_neardup": q_multimodal_video_neardup,
    "ingest_pipeline_stats": q_ingest_pipeline_stats,
    "multimodal_audio_neardup": q_multimodal_audio_neardup,
}


def ordered_queries(root: str | None = None) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Explicit, opt-in visit order for a time-budgeted verification
    pass (the module-level ``QUERIES`` registry itself stays in fixed
    source order — iteration order here is a pure function of the
    committed CORRECTNESS_r*.json history, no import-time side effects).

    A budgeted verifier that walks this dict front to back maximizes
    verification value per second:

    1. previously-FAILED queries first (a red row with no later green
       one) — a fix is worthless until it is re-checked;
    2. REWRITTEN-since-green queries: green on record, but the query's
       current source fingerprint (transitive, incl. operator helpers
       and the oracle SQL — see fingerprints.py) differs from the
       fingerprint recorded when the driver last saw it green, or no
       fingerprint was ever recorded.  A plan rewrite invalidates the
       green; ranking these behind merely-stale rows let ~10 r6/r7
       rewrites dodge the driver's oracle for rounds (r7 verdict #1).
       Within this tier, DIRECT rewrites (the query's own source, its
       oracle, or a narrowly-shared operator helper drifted) come
       first, cost-DESCENDING — the most expensive rewrites carry the
       most code and the most risk; shared-only invalidations (a
       universally-shared helper such as session.py flipped every
       fingerprint at once) follow, oldest-green-first then
       cost-descending.  Without the split, the r15 session.py edit
       marked all 200 queries rewritten and the cost-ascending sort
       filled the driver's 50-query window with trivia while the 30
       actually-rewritten heavy queries landed at positions 109-198
       (r15 verdict #1);
    3. never-verified queries next, cheapest first by frozen baseline.
       A query whose only green rows were rows-only (``err ==
       "no_oracle"``) but which NOW has an ``ORACLES`` entry counts as
       never-verified too: its oracle has never been exercised by the
       driver, so for hash purposes it is fresh — without this rule an
       oracle added after a rows-only pass would park behind dozens of
       stale-but-hash-green rows and not get hash-checked for rounds;
    4. green-and-unchanged queries last, oldest-verified-round-first,
       so stale rows from early rounds still rotate through.
    """
    import json
    import os

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    from yet_another_map_reduce_spark.fingerprints import correctness_history

    last_green, last_seen, green_was_rows_only, _latest = correctness_history(root)
    try:
        with open(os.path.join(root, "BASELINE_QUERIES.json")) as fh:
            cost = json.load(fh)["queries"]
    except (OSError, ValueError, KeyError):
        cost = {}

    def _never_hash_verified(q: str) -> bool:
        # Green on record, but only via a rows-only check, and an oracle
        # now exists in code: the hash path has never run for this query.
        return (
            last_green.get(q) == last_seen.get(q)
            and green_was_rows_only.get(q, False)
            and q in ORACLES
        )

    failed = sorted(
        (q for q in QUERIES if q in last_seen and last_green.get(q, 0) < last_seen[q]),
        key=lambda q: (float(cost.get(q, 999.0)), q),
    )
    fresh = sorted(
        (q for q in QUERIES if q not in last_seen or _never_hash_verified(q)),
        key=lambda q: (float(cost.get(q, 999.0)), q),
    )
    green_all = [
        q
        for q in QUERIES
        if q in last_green
        and last_green[q] == last_seen[q]
        and not _never_hash_verified(q)
    ]
    from yet_another_map_reduce_spark.fingerprints import classify_rewritten

    rewritten_set, direct_set = classify_rewritten(root, green_all, QUERIES, ORACLES)
    rewritten_direct = sorted(
        (q for q in green_all if q in direct_set),
        key=lambda q: (-float(cost.get(q, 999.0)), q),
    )
    rewritten_shared = sorted(
        (q for q in green_all if q in rewritten_set and q not in direct_set),
        key=lambda q: (last_green[q], -float(cost.get(q, 999.0)), q),
    )
    green = sorted(
        (q for q in green_all if q not in rewritten_set),
        key=lambda q: (last_green[q], q),
    )
    return {
        q: QUERIES[q]
        for q in failed + rewritten_direct + rewritten_shared + fresh + green
    }
