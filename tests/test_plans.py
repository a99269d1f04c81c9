"""Physical-plan hygiene — the 100 TB discipline, enforced in CI.

A regression that silently drops predicate pushdown or flips a
broadcast join to a shuffled one doesn't change results at sf0.001, but
melts a 1000-executor cluster.  These tests pin the plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from yet_another_map_reduce_spark import plans
from yet_another_map_reduce_spark.queries import QUERIES
from yet_another_map_reduce_spark.sources.readers import read_table


def test_filter_and_projection_reach_parquet(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    plans.assert_pushed_filters(df, "l_discount", "l_shipdate")
    # 5 projected + 1 filter-only column -> scan must not read all 11
    plans.assert_pruned_columns(df, 6)


def test_broadcast_join_is_broadcast(spark, sf_dir):
    df = QUERIES["join_customer_orders"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_range_join_broadcasts_intervals(spark, sf_dir):
    df = QUERIES["range_join"](spark, sf_dir)
    assert plans.uses_broadcast_join(df), "interval side must broadcast (skew guard)"


def test_agg_has_single_shuffle(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    # partial+final hash agg -> exactly one exchange
    assert plans.count_exchanges(agg) == 1


def test_flagship_uses_whole_stage_codegen(spark, sf_dir):
    # AQE wraps the plan and hides codegen subtrees until execution —
    # disable it for the static inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["flagship_max_price"](spark, sf_dir)
        assert plans.whole_stage_codegen_ids(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of union+window design promises exactly one wide exchange."""
    df = QUERIES["asof_join"](spark, sf_dir)
    assert plans.count_exchanges(df) == 1


def test_topk_is_take_ordered(spark, sf_dir):
    df = QUERIES["sort_topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_tpch_q2_pushes_part_filters(spark, sf_dir):
    """Q2's part-attribute conjuncts must reach the parquet scan."""
    df = QUERIES["tpch_q2_min_cost_supplier"](spark, sf_dir)
    plans.assert_pushed_filters(df, "p_size", "p_type")


def test_tpch_q9_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["tpch_q9_product_profit"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_tpch_q12_pushes_date_range(spark, sf_dir):
    df = QUERIES["tpch_q12_ship_priority"](spark, sf_dir)
    plans.assert_pushed_filters(df, "l_shipdate")


def test_tpch_q21_no_cartesian(spark, sf_dir):
    """The EXISTS/NOT-EXISTS self-joins carry equi components on
    orderkey — the != residual must not degrade to a cartesian."""
    df = QUERIES["tpch_q21_waiting_suppliers"](spark, sf_dir)
    assert "CartesianProduct" not in plans.formatted_plan(df)


def test_tpch_q11_threshold_is_broadcast(spark, sf_dir):
    """The 1-row scalar total joins the per-part aggregate via
    broadcast, never a shuffle."""
    df = QUERIES["tpch_q11_important_parts"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_observe_metrics_piggyback_on_action(spark, sf_dir):
    """Metrics accumulate during the consuming action — no second scan."""
    li = read_table(spark, sf_dir, "lineitem")
    observed, obs = plans.observe_metrics(
        li, "audit",
        rows=F.count(F.lit(1)),
        null_keys=F.count_if(F.col("l_orderkey").isNull()),
        max_qty=F.max("l_quantity"),
    )
    n = observed.count()
    assert obs.get["rows"] == n
    assert obs.get["null_keys"] == 0
    assert obs.get["max_qty"] > 0


def test_dynamic_partition_pruning_triggers(spark, tmp_path):
    """A join on a hive-partition column against a filtered dim must
    inject a dynamic-pruning subquery into the fact scan — at 100 TB
    this is the difference between scanning 2 partitions and 3650."""
    fact = spark.range(2000).withColumn("g", (F.col("id") % 10).cast("int"))
    fact.write.partitionBy("g").mode("overwrite").parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(i, "keep" if i < 2 else "drop") for i in range(10)], "g int, attr string"
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    j = f.join(dim.where(F.col("attr") == "keep"), "g")
    assert "dynamicpruning" in plans.formatted_plan(j).lower()


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """With a selective creation side, the optimizer should build a
    bloom filter and push might_contain into the big side's scan —
    row-level runtime pruning for non-partition keys."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = plans.formatted_plan(j)
        assert "might_contain" in plan or "bloom" in plan.lower()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_upsert_broadcast_path_is_broadcast(spark, sf_dir):
    from yet_another_map_reduce_spark.operators import upsert

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    delta = o.limit(10)
    df = upsert.upsert(o, delta, ["o_custkey"], broadcast_updates=True)
    assert plans.uses_broadcast_join(df), "small CDC delta must broadcast"


def test_zscore_stats_join_is_broadcast(spark, sf_dir):
    df = QUERIES["outlier_zscore"](spark, sf_dir)
    assert plans.uses_broadcast_join(df), "per-group stats side must broadcast"


def _pagerank_edges(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "events")
        .select((F.col("user_id") % 50).alias("src"), (F.col("user_id") % 7).alias("dst"))
        .distinct()
    )


def test_pagerank_costs_one_shuffle_per_iteration(spark, sf_dir):
    # with edges/deg/nodes cached and rank+contrib sides broadcast, each
    # extra iteration may add ONLY its contribution aggregate's shuffle —
    # any more means an iteration-side relation fell out of the cache or
    # a broadcast regressed to sort-merge.  checkpoint_ranks=False keeps
    # the full lineage in one plan so the exchanges are countable.
    from yet_another_map_reduce_spark.operators import graph

    edges = _pagerank_edges(spark, sf_dir)
    one = plans.count_exchanges(
        graph.pagerank(edges, iterations=1, assume_distinct=True, checkpoint_ranks=False)
    )
    three = plans.count_exchanges(
        graph.pagerank(edges, iterations=3, assume_distinct=True, checkpoint_ranks=False)
    )
    assert three - one == 2, f"expected +1 shuffle per extra iteration ({one} -> {three})"


def test_pagerank_checkpoint_keeps_plan_constant_size(spark, sf_dir):
    # checkpoint_interval=1 truncates lineage every iteration, so the
    # FINAL plan is the same size at 1 and at 4 iterations — the property
    # that keeps deep iteration counts from hitting the optimizer wall.
    # The DEFAULT interval (10) must instead compile shallow runs (≤10
    # iterations) to the same plan as the never-checkpoint path — eager
    # every-round truncation was measured 2.2× slower at 3 iterations
    # (r5 bench; BASELINE.md "graph_pagerank r5 regression").
    from yet_another_map_reduce_spark.operators import graph

    edges = _pagerank_edges(spark, sf_dir)
    # 2 vs 4: both final plans sit on a checkpointed ranks relation (a
    # 1-iteration run never checkpoints — the final round is excluded)
    two = plans.count_exchanges(
        graph.pagerank(edges, iterations=2, assume_distinct=True, checkpoint_interval=1)
    )
    four = plans.count_exchanges(
        graph.pagerank(edges, iterations=4, assume_distinct=True, checkpoint_interval=1)
    )
    assert two == four, f"checkpointed plan should not grow with iterations ({two} -> {four})"
    default = plans.count_exchanges(
        graph.pagerank(edges, iterations=3, assume_distinct=True)
    )
    nocp = plans.count_exchanges(
        graph.pagerank(edges, iterations=3, assume_distinct=True, checkpoint_ranks=False)
    )
    assert default == nocp, (
        f"default interval must not eagerly checkpoint shallow runs ({default} != {nocp})"
    )


def test_duplicated_spans_shuffles_hashes_not_shingle_text(spark, sf_dir):
    """Substring dedup's scale contract: every exchange carries the
    60-bit shingle hash or the doc id — the assembled shingle string
    (concat_ws over the token window) must be projected away BEFORE any
    shuffle, so 100 TB of text never crosses the network."""
    from yet_another_map_reduce_spark.operators import dedup

    d = read_table(spark, sf_dir, "documents")
    df = dedup.duplicated_spans(d, "text", "doc_id", k=8)
    plan = plans.formatted_plan(df)
    import re

    for args in re.findall(r"^\(\d+\) Exchange\n.*\nArguments: (.*)$", plan, flags=re.MULTILINE):
        assert "concat_ws" not in args and "__tok" not in args, args
    # the only hash-partitioned exchanges key on the hash or the doc id
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) <= {"__h", "doc_id"}, keys


def test_grouped_ranked_big_tier_reuses_range_exchange_no_group_window(spark, sf_dir):
    """grouped_ranked's scale contract: the corpus crosses ONE range
    exchange (the groups-sized summary branch hits ReusedExchange) and
    no window is partitioned on the low-cardinality group key — the
    only windows are the #partitions-sized offset scans."""
    from yet_another_map_reduce_spark.operators import sorts

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("double").alias("q")
    )
    df = sorts.grouped_ranked(
        d, ["lang"], [F.col("q").asc(), F.col("doc_id").asc()], "r"
    )
    import re

    static = plans.formatted_plan(df)
    assert len(re.findall(r"rangepartitioning\(", static)) >= 1, static
    # no window partitioned by the group key: windowspecdefinition over
    # lang would mean a data-sized partition per language
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", static):
        assert "lang" not in spec, spec
    # stage reuse is decided at materialization: the summary branch must
    # fold the ranked branch's range exchange, not recompute the corpus
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and "ReusedExchange" in final


def test_reservoir_big_tier_no_corpus_exchange(spark, sf_dir):
    """reservoir_per_group's big tier: the corpus itself never crosses
    an exchange — the only hash exchanges carry the partitions×groups
    summary or the ≤P×G×k candidates, both after the local-rank
    filter."""
    from yet_another_map_reduce_spark.operators import sampling

    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    df = sampling.reservoir_per_group(
        c, ["c_mktsegment"], "c_custkey", 5, single_task_threshold=0
    )
    plan = plans.formatted_plan(df)
    import re

    assert "BroadcastExchange" in plan, plan
    # exactly two hash exchanges: the summary aggregation (P×G partial
    # rows, keyed on pid+group) and the candidate window (≤P×G×k rows,
    # keyed on the group) — never one keyed on the group over raw rows
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 2, plan
    assert any("__pid" in k for k in keys), keys  # summary agg exchange
    # the group-keyed exchange feeds the window AFTER the local-rank
    # filter: the filter's Condition appears below it in the tree
    assert "Filter" in plan and "__m0" in plan, plan
    """keep_best's scale contract (100× sweep finding): winner
    selection is a partial-capable aggregate — a map-side HashAggregate
    below the fingerprint exchange — and with a narrow payload the
    exchange carries no document text."""
    from yet_another_map_reduce_spark.operators import dedup

    d = read_table(spark, sf_dir, "documents")
    df = dedup.keep_best_dedup(
        d.withColumn("q", F.length("text").cast("double")),
        "text",
        "doc_id",
        "q",
        payload_cols=["doc_id", "q"],
    )
    plan = plans.formatted_plan(df)
    import re

    assert "partial_min_by" in plan and "Window" not in plan, plan
    ex = re.findall(r"^\(\d+\) Exchange\n.*\nArguments: (.*)$", plan, flags=re.MULTILINE)
    assert len(ex) == 1, plan
    # the exchange input is the partial-aggregate output (fingerprint +
    # candidate struct), never document text
    ex_inputs = re.findall(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]$", plan, flags=re.MULTILINE
    )
    assert ex_inputs and "text#" not in ex_inputs[0], ex_inputs


def test_winnow_single_exchange_carries_no_text(spark, sf_dir):
    """Winnowing's scale contract: the lead-window, the min-over-frame
    window, the per-doc count window, the fingerprint distinct AND the
    per-doc rollup all reuse ONE doc-id exchange (every later key set
    contains the partition key), and no exchange carries gram text."""
    from yet_another_map_reduce_spark.operators import text as T

    d = read_table(spark, sf_dir, "documents")
    df = T.winnow_fingerprints(d, "text", "doc_id")
    plan = plans.formatted_plan(df)
    import re

    ex = re.findall(r"^\(\d+\) Exchange\n.*\nArguments: (.*)$", plan, flags=re.MULTILINE)
    assert len(ex) == 1, plan
    assert "concat_ws" not in ex[0] and "__tok" not in ex[0], ex[0]
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert set(keys) == {"doc_id"}, keys


def test_lateral_join_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL ORDER BY/LIMIT must decorrelate into a
    ranked window join with the WindowGroupLimit top-k pushdown — NOT a
    per-outer-row re-execution (which would be quadratic at scale)."""
    df = QUERIES["lateral_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_persisted_ivfpq_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ index's probe scan must show
    PartitionFilters on centroid_id (file-level pruning of unprobed
    cells) and read only PQ-code bytes — never the raw embedding
    column.  This is what makes nprobe/nlist the real I/O fraction of
    an encoded 100 TB index."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "pq_index")
    similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    out = similarity.search_ivfpq_index(
        spark,
        index_dir,
        queries=emb.where(F.col("vec_id") < 3),
        id_col="vec_id",
        vec_col="embedding",
        centroids=cent,
        books=books,
        k=5,
        nprobe=2,
    )
    plan = plans.formatted_plan(out)
    scan = plan[plan.index("pq_index"):]
    assert "PartitionFilters: [" in scan
    assert "centroid_id" in scan.split("PartitionFilters")[1][:160]
    # the index scan reads codes only — the raw vectors never leave
    # the (separate, already-scanned-for-probes) corpus table
    readschema = scan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_codes" in readschema and "embedding" not in readschema
    assert out.count() > 0


def test_persisted_ivfpq_search_equals_in_memory(spark, sf_dir, tmp_path):
    """Persistence must not change values: searching the materialized
    index returns exactly ivfpq_topk's rows for the same model."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    q = emb.where(F.col("vec_id") < 3)
    index_dir = os.path.join(str(tmp_path), "pq_index_eq")
    similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    mem = similarity.ivfpq_topk(
        emb, q, "vec_id", "embedding", k=5, nprobe=2,
        centroids=cent, books=books,
    )
    per = similarity.search_ivfpq_index(
        spark, index_dir, q, "vec_id", "embedding",
        centroids=cent, books=books, k=5, nprobe=2,
    )
    key = lambda r: (r["query_id"], r["qrank"])  # noqa: E731
    assert sorted(map(tuple, per.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, mem.collect()), key=lambda t: (t[0], t[3]))


def test_persisted_ivfpq_cold_search_needs_no_training_scan(spark, sf_dir, tmp_path):
    """The committed index carries its own model (_model.json written
    inside the two-phase commit): a cold session searches with NO
    centroids/books argument and NO corpus access — the executed plan
    references only the query frame and the index files, and results
    match the explicit-model search exactly."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "pq_index_cold")
    similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    # "cold session": the query frame is a standalone literal frame, so
    # any embeddings.parquet reference in the plan could only come from
    # model retraining — there must be none
    qrows = emb.where(F.col("vec_id") < 3).select("vec_id", "embedding").collect()
    q = spark.createDataFrame(qrows, "vec_id bigint, embedding array<float>")
    cold = similarity.search_ivfpq_index(
        spark, index_dir, q, "vec_id", "embedding", k=5, nprobe=2
    )
    plan = plans.formatted_plan(cold)
    assert "embeddings.parquet" not in plan
    assert "pq_index_cold" in plan
    explicit = similarity.search_ivfpq_index(
        spark, index_dir, q, "vec_id", "embedding",
        centroids=cent, books=books, k=5, nprobe=2,
    )
    assert sorted(map(tuple, cold.collect())) == \
        sorted(map(tuple, explicit.collect()))
    # loaded model halves round-trip the trained ones bit-for-bit
    cent2, books2 = similarity.load_ivfpq_model(spark, index_dir)
    assert books2 == books
    assert sorted(
        (r["centroid_id"], [float(x) for x in r["__centv"]])
        for r in cent2.collect()
    ) == sorted(
        (r["centroid_id"], [float(x) for x in r["__centv"]])
        for r in cent.collect()
    )


def test_persisted_ivfpq_interrupted_rebuild_never_visible(spark, sf_dir, tmp_path):
    """Crash consistency of the two-phase index commit: a torn rebuild
    (versioned subdir with garbage, no pointer swap) must be invisible
    — readers keep resolving the last committed version — and a
    completed rebuild must swap atomically to identical results
    (training is deterministic)."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    q = emb.where(F.col("vec_id") < 3)
    index_dir = os.path.join(str(tmp_path), "pq_index_crash")
    committed = similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    assert os.path.dirname(committed) == index_dir

    def results():
        out = similarity.search_ivfpq_index(
            spark, index_dir, q, "vec_id", "embedding",
            centroids=cent, books=books, k=5, nprobe=2,
        )
        return sorted(map(tuple, out.collect()))

    baseline = results()
    assert baseline

    # simulate a rebuild that died mid-write: garbage versioned subdir
    # (unreadable-as-parquet), CURRENT untouched
    torn = os.path.join(index_dir, "v_deadbeefdead")
    os.makedirs(os.path.join(torn, "centroid_id=0"))
    with open(os.path.join(torn, "centroid_id=0", "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00not a parquet file")
    assert results() == baseline, "torn rebuild must be invisible to readers"

    # a COMPLETED rebuild swaps the pointer; deterministic training
    # means identical results from the new version
    recommitted = similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    assert recommitted != committed
    with open(os.path.join(index_dir, "CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == os.path.basename(recommitted)
    assert results() == baseline


def test_adaptive_rank_gates_on_input_size(spark, sf_dir):
    """global_ranked_adaptive: single-task window below the threshold
    (no range exchange stage), the distributed two-phase rank above it
    (range exchange present, no corpus-sized unpartitioned window)."""
    from yet_another_map_reduce_spark.operators import sorts

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order = [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]

    small = sorts.global_ranked_adaptive(
        o, order, "rank", total_col="n", single_task_threshold=10**12
    )
    p_small = small._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in p_small.lower()
    assert "window" in p_small.lower()

    big = sorts.global_ranked_adaptive(
        o, order, "rank", total_col="n", single_task_threshold=1
    )
    p_big = big._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in p_big.lower()

    # and identical results either way (the dispatch is plan-only)
    a = sorted(map(tuple, small.collect()))
    b = sorted(map(tuple, big.collect()))
    assert a == b


def test_ivfpq_append_equals_single_build(spark, sf_dir, tmp_path):
    """Incremental maintenance must not change values: build on half
    the corpus, append the other half with the index's frozen model —
    search results are bit-identical to an index built once over the
    union (and to in-memory ivfpq_topk with the same model), because
    assignment and encoding are per-row deterministic."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    q = emb.where(F.col("vec_id") < 3)
    half = 250

    inc_dir = os.path.join(str(tmp_path), "idx_incremental")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") < half), "vec_id", "embedding",
        inc_dir, centroids=cent, books=books,
    )
    # model-free append: the frozen model comes from the index itself
    vdir = similarity.append_to_ivfpq_index(
        spark, inc_dir, emb.where(F.col("vec_id") >= half),
        "vec_id", "embedding",
    )
    full_dir = os.path.join(str(tmp_path), "idx_full")
    similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", full_dir, centroids=cent, books=books
    )

    def results(d):
        out = similarity.search_ivfpq_index(
            spark, d, q, "vec_id", "embedding", k=5, nprobe=2
        )
        return sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[3]))

    appended, single = results(inc_dir), results(full_dir)
    assert appended == single and len(appended) > 0
    mem = similarity.ivfpq_topk(
        emb, q, "vec_id", "embedding", k=5, nprobe=2,
        centroids=cent, books=books,
    )
    assert appended == sorted(
        map(tuple, mem.collect()), key=lambda t: (t[0], t[3])
    )
    # the appended version is addressable directly (manifest time
    # travel), and the pre-append version is still intact + searchable
    assert results(vdir) == appended
    with open(os.path.join(inc_dir, "CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == os.path.basename(vdir)


def test_ivfpq_append_scan_prunes_both_segments(spark, sf_dir, tmp_path):
    """Each manifest segment is its own hive-partitioned parquet root:
    the search plan must show PartitionFilters pruning on BOTH the
    base segment and the appended one, and read codes only."""
    import os

    from yet_another_map_reduce_spark import plans
    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "idx_prune")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") < 250), "vec_id", "embedding",
        index_dir, centroids=cent, books=books,
    )
    similarity.append_to_ivfpq_index(
        spark, index_dir, emb.where(F.col("vec_id") >= 250),
        "vec_id", "embedding",
    )
    out = similarity.search_ivfpq_index(
        spark, index_dir, emb.where(F.col("vec_id") < 3),
        "vec_id", "embedding", k=5, nprobe=2,
    )
    plan = plans.formatted_plan(out)
    assert plan.count("PartitionFilters: [") >= 2
    for chunk in plan.split("PartitionFilters")[1:]:
        assert "centroid_id" in chunk[:160]
    for chunk in plan.split("ReadSchema:")[1:]:
        line = chunk.splitlines()[0]
        if "pq_codes" in line:
            assert "embedding" not in line
    assert out.count() > 0


def test_ivfpq_append_crash_leaves_live_version_intact(spark, sf_dir, tmp_path):
    """Two-phase append: a crash after the segment write but before the
    version commit (simulated: segment dir present, no manifest, no
    pointer swap) must leave searches on the live version unchanged —
    the orphan segment is invisible garbage."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "idx_crash")
    base = emb.where(F.col("vec_id") < 250)
    similarity.build_ivfpq_index(
        base, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )
    q = emb.where(F.col("vec_id") < 3)

    def results():
        out = similarity.search_ivfpq_index(
            spark, index_dir, q, "vec_id", "embedding", k=5, nprobe=2
        )
        return sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[3]))

    before = results()
    # simulate the crash: the segment lands, nothing references it
    crashed = emb.where(F.col("vec_id") >= 250)
    assigned = similarity._nearest_centroids(
        crashed, "vec_id", "embedding", cent, 1
    ).select(F.col("__rid").alias("neighbor_id"), "centroid_id")
    enc = similarity.pq_encode(
        crashed, "vec_id", "embedding", books
    ).withColumnRenamed("vec_id", "neighbor_id")
    (
        assigned.join(enc, "neighbor_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(index_dir, "seg_orphaned_by_crash"))
    )
    assert results() == before
    # a retried append commits normally and now includes both halves
    similarity.append_to_ivfpq_index(
        spark, index_dir, crashed, "vec_id", "embedding"
    )
    assert len(results()) >= len(before)


def test_ivfpq_append_occ_rejects_racing_writer(spark, sf_dir, tmp_path):
    """OCC commit: if another writer advances CURRENT between an
    append's parent resolution and its commit, the append must raise
    IndexConflictError instead of silently orphaning the racer's batch
    — and a plain retry succeeds against the new parent."""
    import os

    import pytest

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "idx_occ")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") < 200), "vec_id", "embedding",
        index_dir, centroids=cent, books=books,
    )
    batch_a = emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    batch_b = emb.where(F.col("vec_id") >= 350)

    # simulate the race: writer A captures its parent and encodes its
    # batch, then writer B's append commits in full BEFORE A enters the
    # locked commit critical section — A's in-lock re-read must now see
    # the advanced pointer and fail (with the pre-r10 bare
    # check-then-swap, landing B inside the window instead would let
    # BOTH writers swap CURRENT and orphan a batch)
    orig_commit = similarity._locked_occ_commit
    state = {"raced": False}

    def racing_commit(d, live, version, action):
        if not state["raced"]:
            state["raced"] = True
            similarity.append_to_ivfpq_index(
                spark, index_dir, batch_b, "vec_id", "embedding"
            )
        return orig_commit(d, live, version, action)

    similarity._locked_occ_commit = racing_commit
    try:
        with pytest.raises(similarity.IndexConflictError):
            similarity.append_to_ivfpq_index(
                spark, index_dir, batch_a, "vec_id", "embedding"
            )
    finally:
        similarity._locked_occ_commit = orig_commit
    assert not os.path.exists(os.path.join(index_dir, "_commit.lock"))
    # retry re-encodes against the new live version and lands cleanly
    similarity.append_to_ivfpq_index(
        spark, index_dir, batch_a, "vec_id", "embedding"
    )
    out = similarity.search_ivfpq_index(
        spark, index_dir, emb.where(F.col("vec_id") < 3),
        "vec_id", "embedding", k=5, nprobe=2,
    )
    assert out.count() > 0


def test_locked_occ_commit_unit(tmp_path):
    """The commit lock's own contract, no Spark needed: (a) commit
    swaps CURRENT and removes the lock; (b) a stale parent raises
    IndexConflictError and leaves CURRENT untouched; (c) an abandoned
    lock older than the staleness bound is broken rather than waited
    on; (d) a FRESH foreign lock is NOT broken (bounded wait, loud
    failure)."""
    import os
    import time

    import pytest

    from yet_another_map_reduce_spark.operators import similarity

    d = str(tmp_path / "idx")
    os.makedirs(os.path.join(d, "v_a"))
    os.makedirs(os.path.join(d, "v_b"))
    with open(os.path.join(d, "CURRENT"), "w") as fh:
        fh.write("v_a")
    live = similarity._resolve_index_dir(d)

    # (a) clean commit
    similarity._locked_occ_commit(d, live, "v_b", "test")
    assert similarity._resolve_index_dir(d).endswith("v_b")
    assert not os.path.exists(os.path.join(d, "_commit.lock"))

    # (b) stale parent: expected_live still v_a, but CURRENT moved on
    with pytest.raises(similarity.IndexConflictError):
        similarity._locked_occ_commit(d, live, "v_a", "test")
    assert similarity._resolve_index_dir(d).endswith("v_b")
    assert not os.path.exists(os.path.join(d, "_commit.lock"))

    # (c) abandoned lock (mtime past the staleness bound) is broken
    lock = os.path.join(d, "_commit.lock")
    with open(lock, "w"):
        pass
    old = time.time() - similarity._COMMIT_LOCK_STALE_S - 5
    os.utime(lock, (old, old))
    similarity._locked_occ_commit(
        d, similarity._resolve_index_dir(d), "v_a", "test"
    )
    assert similarity._resolve_index_dir(d).endswith("v_a")

    # (d) fresh lock is respected: bounded wait then a loud error.
    # Patch time.monotonic so the first call (deadline derivation) sees
    # t0 and every later call sees t0+60 — past the 30 s bound without
    # actually sleeping.
    with open(lock, "w"):
        pass
    t0 = time.monotonic()
    state = {"ticked": False}

    def ticking_clock():
        v = t0 + (60.0 if state["ticked"] else 0.0)
        state["ticked"] = True
        return v

    time_monotonic = time.monotonic
    time.monotonic = ticking_clock
    try:
        with pytest.raises(similarity.IndexConflictError, match="lock"):
            similarity._locked_occ_commit(
                d, similarity._resolve_index_dir(d), "v_b", "test"
            )
    finally:
        time.monotonic = time_monotonic
        os.unlink(lock)
    assert similarity._resolve_index_dir(d).endswith("v_a")


def _occ_worker(args):
    """Module-level so multiprocessing can pickle it: perform `m`
    OCC commits with retry-on-conflict, logging parent->child edges."""
    import os
    import uuid

    d, m, log_path = args
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from yet_another_map_reduce_spark.operators import similarity

    done = 0
    with open(log_path, "w") as log:
        while done < m:
            live = similarity._resolve_index_dir(d)
            version = f"v_{uuid.uuid4().hex[:12]}"
            os.makedirs(os.path.join(d, version), exist_ok=True)
            try:
                similarity._locked_occ_commit(d, live, version, "stress")
            except similarity.IndexConflictError:
                continue  # racer won; re-resolve and retry
            log.write(f"{os.path.basename(live)} {version}\n")
            done += 1
    return done


def test_locked_occ_commit_serializes_across_processes(tmp_path):
    """REAL concurrency evidence for the true-CAS claim: 4 separate
    processes each drive 12 OCC commits (read parent -> commit child,
    retry on conflict) against one index dir.  If the lock serialized
    them, the union of logged parent->child edges forms one single
    CHAIN: every commit's parent is exactly the previous commit's
    child, no parent is consumed twice (a double-consumed parent is
    precisely the lost-update race the pre-r10 check-then-swap
    allowed)."""
    import multiprocessing as mp
    import os

    from yet_another_map_reduce_spark.operators import similarity

    d = str(tmp_path / "occ_stress")
    os.makedirs(os.path.join(d, "v_root"))
    with open(os.path.join(d, "CURRENT"), "w") as fh:
        fh.write("v_root")

    nproc, m = 4, 12
    logs = [str(tmp_path / f"log_{i}.txt") for i in range(nproc)]
    with mp.get_context("spawn").Pool(nproc) as pool:
        counts = pool.map(_occ_worker, [(d, m, p) for p in logs])
    assert counts == [m] * nproc

    edges: dict[str, str] = {}
    for p in logs:
        with open(p) as fh:
            for line in fh:
                parent, child = line.split()
                # no parent consumed twice == no lost update
                assert parent not in edges, f"double-consumed parent {parent}"
                edges[parent] = child
    assert len(edges) == nproc * m
    # edges form one chain from v_root to the live version
    cur, hops = "v_root", 0
    while cur in edges:
        cur = edges[cur]
        hops += 1
    assert hops == nproc * m
    assert similarity._resolve_index_dir(d).endswith(cur)
    assert not os.path.exists(os.path.join(d, "_commit.lock"))


def test_build_ivfpq_index_auto_persists_sized_model(spark, sf_dir, tmp_path):
    """The auto-sized build's contract: nlist comes from sized_nlist of
    the corpus count (caller-supplied n short-circuits the count), the
    returned nlist matches, and the committed _model.json carries
    exactly that many centroids — so a cold session recovers the sizing
    from the sidecar alone."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.operators.dedup import sized_nlist
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    idx = os.path.join(str(tmp_path), "idx_auto")
    vdir, nlist = similarity.build_ivfpq_index_auto(
        emb, "vec_id", "embedding", idx, books=_pq_books(emb, sf_dir), n=n
    )
    assert nlist == sized_nlist(n)
    cent, books = similarity.load_ivfpq_model(spark, idx)
    assert cent is not None and cent.count() == nlist
    out = similarity.search_ivfpq_index(
        spark, idx,
        queries=emb.where(F.col("vec_id") < 3),
        id_col="vec_id", vec_col="embedding", k=5, nprobe=2,
    )
    assert out.count() > 0


def test_ivfpq_rerank_recovers_exact_neighbors(spark, sf_dir):
    """The re-rank stage's reason to exist: against ground-truth exact
    cosine top-10, the re-ranked top-10 must recall at least as many
    true neighbors as the raw ADC top-10 (quantization error can only
    be CORRECTED by exact scoring, never worsened — any true neighbor
    inside the ADC shortlist is recovered), and every re-ranked hit
    must come from the ADC shortlist.  Also pins the broadcast shape:
    the candidate vector fetch must not shuffle the corpus."""
    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    books = _pq_books(emb, sf_dir)

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(
            emb, queries, "vec_id", "embedding", k=10
        ).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(
            emb, queries, "vec_id", "embedding", k=10, books=books
        ).collect()
    }
    sl = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(
            emb, queries, "vec_id", "embedding", k=30, books=books
        ).collect()
    }
    rr_df = similarity.ivfpq_rerank_topk(
        emb, queries, "vec_id", "embedding", k=10, shortlist=30, books=books
    )
    rr = {(r["query_id"], r["neighbor_id"]) for r in rr_df.collect()}

    assert rr <= sl, "re-ranked hits must come from the ADC shortlist"
    assert len(rr & exact) >= len(adc & exact), (
        "exact re-ranking must not lose recall vs raw ADC order"
    )
    # every true neighbor that survived into the shortlist is recovered
    assert (exact & sl) <= rr
    plan = rr_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivfpq_compact_preserves_results_and_folds_segments(spark, sf_dir, tmp_path):
    """Compaction is pure data movement: search results bit-identical
    before/after, segment count folds to 1, model untouched, and the
    pre-compaction version stays addressable (time travel)."""
    import json
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "idx_compact")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") < 200), "vec_id", "embedding",
        index_dir, centroids=cent, books=books,
    )
    similarity.append_to_ivfpq_index(
        spark, index_dir,
        emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)),
        "vec_id", "embedding",
    )
    appended_v = similarity.append_to_ivfpq_index(
        spark, index_dir, emb.where(F.col("vec_id") >= 350),
        "vec_id", "embedding",
    )
    q = emb.where(F.col("vec_id") < 3)

    def results(d):
        out = similarity.search_ivfpq_index(
            spark, d, q, "vec_id", "embedding", k=5, nprobe=2
        )
        return sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[3]))

    before = results(index_dir)
    assert len(similarity._index_data_paths(index_dir)) == 3
    compacted_v = similarity.compact_ivfpq_index(spark, index_dir)
    assert results(index_dir) == before
    assert len(similarity._index_data_paths(index_dir)) == 1
    with open(os.path.join(compacted_v, "_segments.json")) as fh:
        assert len(json.load(fh)["segments"]) == 1
    # the 3-segment pre-compaction version is still directly searchable
    assert results(appended_v) == before


def test_ivfpq_vacuum_collects_orphans_keeps_reachable(spark, sf_dir, tmp_path):
    """Vacuum removes orphan segments and expired versions but never
    anything reachable from the live or retained versions, and never
    young files (in-flight writer protection)."""
    import os

    from yet_another_map_reduce_spark.operators import similarity
    from yet_another_map_reduce_spark.queries import _pq_books

    emb = read_table(spark, sf_dir, "embeddings")
    books = _pq_books(emb, sf_dir)
    cent = similarity.ivf_centroids(emb, "vec_id", "embedding", nlist=8)
    index_dir = os.path.join(str(tmp_path), "idx_vac")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") < 200), "vec_id", "embedding",
        index_dir, centroids=cent, books=books,
    )
    similarity.append_to_ivfpq_index(
        spark, index_dir, emb.where(F.col("vec_id") >= 200),
        "vec_id", "embedding",
    )
    os.makedirs(os.path.join(index_dir, "seg_orphan"), exist_ok=True)
    q = emb.where(F.col("vec_id") < 3)

    def results():
        out = similarity.search_ivfpq_index(
            spark, index_dir, q, "vec_id", "embedding", k=5, nprobe=2
        )
        return sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[3]))

    before = results()
    # young orphan survives (retention window)
    r = similarity.vacuum_ivfpq_index(index_dir, retention_seconds=3600)
    assert r["removed"] == [] and os.path.isdir(os.path.join(index_dir, "seg_orphan"))
    # with retention waived, the orphan goes; everything reachable stays
    r = similarity.vacuum_ivfpq_index(index_dir, retention_seconds=0)
    assert "seg_orphan" in r["removed"]
    assert not os.path.isdir(os.path.join(index_dir, "seg_orphan"))
    assert results() == before
    # keep_versions=0 with zero retention: only the live lineage survives,
    # and search still works (the base version IS a live segment here)
    similarity.vacuum_ivfpq_index(index_dir, keep_versions=0, retention_seconds=0)
    assert results() == before


def _planted_anisotropic(spark, n_clusters: int, per: int, dim: int, seed: int = 7):
    """Overlapping ANISOTROPIC clusters, the geometry where IVF recall
    slopes with the probed fraction: centers drawn with sigma comparable
    to the within-cluster spread (N(0, 0.4)) and per-axis scales
    U(0.05, 1), so a vector's true cosine neighborhood straddles several
    IVF cells.  The same seeded geometry produced BASELINE.md's
    probe-fraction recall rows.

    Returns ``(vec_id long, embedding array<double>)`` with values
    6-rounded for cross-engine replayability."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 0.4, (n_clusters, dim))
    scales = rng.uniform(0.05, 1.0, (n_clusters, dim))
    rows = []
    vid = 0
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(0.0, 1.0, (per, dim)) * scales[c]
        for p in pts:
            rows.append((vid, [round(float(x), 6) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_probe_fraction_slopes_recall_on_overlapping_clusters(spark, tmp_path):
    """The probe_fraction knob's reason to exist (r10 verdict item 4):
    on ANISOTROPIC, OVERLAPPING clusters — centers drawn with sigma
    comparable to the within-cluster spread, per-axis anisotropic
    scales — a query's true neighborhood straddles several IVF cells,
    so recall vs the exhaustive-ADC result SLOPES with the probed
    fraction instead of sitting flat at the floor (the benchmark
    corpus's well-separated clusters measure flat 0.900 from 2.5% to
    25% probed and cannot demonstrate the knob; BASELINE.md r10/r11).

    Pins: (a) the floor (nprobe=4 of 24 cells) recovers strictly less
    of the exhaustive-ADC top-10 than probing 30% of cells, which
    recovers strictly less than probing every cell; (b) a tiny
    probe_fraction floors at nprobe=4 (identical rows to an explicit
    nprobe=4 search); (c) probe_fraction > 1 clamps to nlist."""
    import os

    from yet_another_map_reduce_spark.operators import similarity

    n_clusters, per, dim = 24, 100, 16
    df = _planted_anisotropic(spark, n_clusters, per, dim)
    q = df.where(F.col("vec_id") % 300 == 0)  # 8 queries

    cent = similarity.ivf_centroids(df, "vec_id", "embedding", nlist=n_clusters)
    # high-resolution codebooks so PQ quantization error stays well
    # below the cell-miss signal the knob controls (the default m=4/k=8
    # books collapse this geometry into so few distinct codes that even
    # exhaustive probing is noise — measured while building the fixture)
    books = similarity.train_pq_codebooks(
        df, "vec_id", "embedding", m=8, k=32, iterations=3
    )
    index_dir = os.path.join(str(tmp_path), "aniso_idx")
    similarity.build_ivfpq_index(
        df, "vec_id", "embedding", index_dir, centroids=cent, books=books
    )

    def neighbors(**kw):
        out = similarity.search_ivfpq_index(
            spark, index_dir, q, "vec_id", "embedding", k=10, **kw
        )
        got: dict[int, set[int]] = {}
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    full = neighbors(probe_fraction=1.0)

    def recall_vs_full(got):
        per_q = [len(full[k] & got.get(k, set())) / len(full[k]) for k in full]
        return sum(per_q) / len(per_q)

    floor = neighbors(probe_fraction=0.05)   # ceil(.05*24)=2 -> floors at 4
    mid = neighbors(probe_fraction=0.3)      # 8 of 24 cells
    r_floor, r_mid = recall_vs_full(floor), recall_vs_full(mid)
    assert r_floor < r_mid < 1.0, (r_floor, r_mid)
    # measured 0.6875 / 0.875 on this seed; leave noise headroom
    assert r_floor < 0.8
    # (b) tiny fraction floors at nprobe=4 == explicit nprobe=4
    assert neighbors(probe_fraction=1e-9) == neighbors(nprobe=4)
    # (c) over-1 fractions clamp to nlist (exhaustive)
    assert neighbors(probe_fraction=2.5) == full
    # (d) r11 verdict item 4: the DEFAULT is fraction-relative probing,
    # not an absolute count — no-knob search equals an explicit
    # DEFAULT_PROBE_FRACTION search (here both floor at 4 of 24 cells)
    assert neighbors() == neighbors(
        probe_fraction=similarity.DEFAULT_PROBE_FRACTION
    )
    # and the sizing itself scales with nlist instead of staying at 4:
    # 2.5% of 10,000 cells probes 250, of 160 probes exactly the floor
    assert similarity._sized_nprobe(10_000, None) == 250
    assert similarity._sized_nprobe(160, None) == 4
    assert similarity._sized_nprobe(24, None) == 4
    assert similarity._sized_nprobe(24, 2.5) == 24


def test_zorder_write_tightens_per_file_ranges(spark, sf_dir, tmp_path):
    """The layout property that drives data skipping: after
    write_zordered on (o_custkey, o_totalprice), every file's min/max
    span of BOTH columns shrinks to a fraction of the global range
    (parquet readers prune files/row-groups whose [min,max] misses the
    predicate — the normalized span IS the expected fraction of files
    read for a short-range filter).  A size-matched random layout shows
    ~full-range spans on every file.  Measured at fixture size: random
    ~0.99/0.99, z-ordered ~0.58/0.34.  Rows must round-trip exactly."""
    import os
    import statistics

    from yet_another_map_reduce_spark.sources import zorder

    o = read_table(spark, sf_dir, "orders")
    rnd = os.path.join(str(tmp_path), "layout_rnd")
    zp = os.path.join(str(tmp_path), "layout_z")
    o.repartition(8).write.mode("overwrite").parquet(rnd)
    zorder.write_zordered(o, zp, ["o_custkey", "o_totalprice"], num_files=8)

    def mean_spans(path):
        st = zorder.file_range_stats(
            spark, path, ["o_custkey", "o_totalprice"]
        ).collect()
        assert len(st) == 8
        return {
            c: statistics.mean(r[f"span_{c}"] for r in st)
            for c in ("o_custkey", "o_totalprice")
        }

    r, z = mean_spans(rnd), mean_spans(zp)
    for c in ("o_custkey", "o_totalprice"):
        assert r[c] > 0.9, (c, r[c])       # random layout can't skip
        assert z[c] < 0.7, (c, z[c])       # z-order clusters BOTH cols
        assert z[c] < 0.75 * r[c]
    # layout is a rearrangement, never a rewrite
    a = sorted(map(tuple, o.collect()))
    b = sorted(
        map(tuple, spark.read.parquet(zp).select(*o.columns).collect())
    )
    assert a == b


def test_zorder_sql_agrees_with_zorder_key(spark):
    """The portable-SQL z-value generator (sources.zorder.zorder_sql,
    replayed by the DuckDB oracle) and the Column-combinator interleave
    (functions.zorder_key, for callers holding bucket ranks as Spark
    Columns) implement the same Morton math — pinned bit-for-bit over
    the full 2-column bucket grid so a fix to one cannot silently miss
    the other."""
    from yet_another_map_reduce_spark.functions import zorder_key
    from yet_another_map_reduce_spark.sources.zorder import zorder_sql

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("long").alias("b")
    )
    # bounds 0..255 with 256 buckets make the bucket rank the identity,
    # so zorder_sql reduces to the raw interleave zorder_key computes
    z_sql = F.expr(
        zorder_sql(["a", "b"], {"a": ("0", "256"), "b": ("0", "256")}, bits=8)
    )
    mismatch = grid.where(
        z_sql.cast("long") != zorder_key(["a", "b"], bits=8)
    ).count()
    assert mismatch == 0


def test_incremental_dedup_never_shuffles_seen(spark, sf_dir, tmp_path):
    """incremental_dedup's 100 TB contract: the corpus-sized SEEN
    fingerprint relation is map-scanned once per batch and NEVER
    shuffled or broadcast — the batch's keys broadcast INTO a semi join
    against it (LeftSemi/BuildRight with seen streamed), and the anti
    join builds on the batch-bounded hits.  A naive new-ANTI-seen plan
    either broadcasts the corpus (OOM) or sort-merge-shuffles it per
    micro-batch."""
    import os

    from yet_another_map_reduce_spark.operators import dedup

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") < 50)
    # materialize seen so its branch is a bare parquet scan (the
    # production shape: the fp relation is its own table on disk)
    seen_path = os.path.join(str(tmp_path), "seen_fp")
    dedup.batch_fingerprints(docs, "text").write.parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    out = dedup.incremental_dedup(batch, seen, "text", "doc_id", seen_fp_col="fp")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi, BuildRight" in plan   # batch keys are the build side
    assert "LeftAnti, BuildRight" in plan   # hits (batch-bounded) build side
    assert "SortMergeJoin" not in plan      # seen never reshuffles
    # the seen scan feeds the semi join's STREAMED side directly: no
    # Exchange and no BroadcastExchange anywhere between the semi join
    # and seen's parquet scan (the subtree below the semi join's
    # streamed input, which ends at the scan line)
    semi = plan[plan.index("LeftSemi"):]
    scan_end = semi.index("Scan parquet")  # first scan below the semi join
    between = semi[:scan_end]
    # the build-side BroadcastExchange of the batch keys is expected;
    # strip it by splitting on the broadcast marker and checking the
    # remainder (the streamed/seen branch) for shuffles
    streamed = between.split("BroadcastExchange")[-1]
    assert "Exchange hashpartitioning" not in streamed


def test_zorder_sql_clamps_out_of_range_values(spark):
    """With caller-supplied bounds (the documented skip-the-scan path:
    yesterday's min/max on a growing table), out-of-range values must
    saturate at the edge buckets on BOTH sides — a negative bucket's
    sign bits would scatter the row to a garbage z-value."""
    from yet_another_map_reduce_spark.sources.zorder import zorder_sql

    df = spark.createDataFrame(
        [(-50,), (100,), (150,), (200,), (999,)], "v long"
    )
    z = F.expr(zorder_sql(["v"], {"v": ("100", "200")}, bits=8))
    got = {r["v"]: r["z"] for r in df.select("v", z.alias("z")).collect()}
    assert got[-50] == 0          # below min -> bucket 0, not negative
    assert got[100] == 0
    assert got[999] == 255        # above max saturates at the top bucket
    assert got[200] == 255
    assert 0 < got[150] < 255


def test_zorder_value_all_null_column_degrades_to_bucket_zero(spark):
    """r11 ADVICE: default-bounds zorder_value on an all-NULL column
    (min/max aggregate to None) must take zorder_sql's documented
    bucket-0 degenerate-range path, not raise an opaque TypeError."""
    from yet_another_map_reduce_spark.sources.zorder import zorder_value

    df = spark.createDataFrame(
        [(1, None), (2, None)], "a long, b double"
    )
    out = df.select(zorder_value(df, ["a", "b"]).alias("z"), "a").collect()
    # b contributes bucket 0 everywhere; a still orders the rows
    zs = {r["a"]: r["z"] for r in out}
    assert zs[1] == 0 and zs[2] > 0


def test_remove_common_lines_plan_shape(spark, sf_dir):
    """The line-dedup scale contract (re-pinned r15): the rewrite is a
    per-document array filter against the ONE-ROW broadcast boilerplate
    key set — document text must never shuffle (the pre-r15 shape
    anti-joined the exploded line stream and re-assembled docs through
    a corpus-sized collect_list exchange).  The only exchanges left
    belong to the key-frequency aggregation (fixed-width md5 keys)."""
    from yet_another_map_reduce_spark.operators import text
    from yet_another_map_reduce_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.remove_common_lines(d, max_doc_freq=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the key set reaches every doc row via a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # no sort-merge path anywhere, and no doc-body reassembly exchange:
    # the only aggregate is the key-frequency count (no collect_list)
    assert "SortMergeJoin" not in plan, plan
    assert "collect_list" not in plan, plan


def test_word_window_plans(spark, sf_dir):
    """Word k-grams are built-in array expressions over a token array
    (``functions.shingles``), not per-document Arrow kernels:
    decontaminate runs no Python worker at all; ngram_jaccard_pairs's
    only kernel is MinHash (kept: its built-in forms measured slower),
    planned once per branch of its candidate self-join; and chunk_dedup
    builds its chunks map-side — 2 exchanges, where the posexplode →
    groupBy(id, chunk_idx) token shuffle (planned once per branch of the
    first-occurrence self-join) made it 4."""
    import re

    from yet_another_map_reduce_spark.operators import dedup, text

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dec = text.decontaminate(
        d.where(F.col("doc_id") % 10 != 0), d.where(F.col("doc_id") % 10 == 0)
    )
    assert "MapInPandas" not in plans.formatted_plan(dec)
    jac = plans.formatted_plan(dedup.ngram_jaccard_pairs(d, "text", "doc_id"))
    kernels = re.findall(r"^\(\d+\) MapInPandas$", jac, flags=re.MULTILINE)
    assert len(kernels) == 2
    assert len(re.findall(r", signature#\d+\], false$", jac, flags=re.MULTILINE)) == 2
    assert plans.count_exchanges(dedup.chunk_dedup(d, "text", "doc_id")) == 2
