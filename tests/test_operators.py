"""Unit tests for operator semantics on small hand-built frames
(oracle parity at sf0.01 is covered by scripts/check_parity.py and the
driver; these pin edge-case semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from yet_another_map_reduce_spark.operators import dedup, joins, similarity, windows
from yet_another_map_reduce_spark.operators.text import lang_id, quality_score
from yet_another_map_reduce_spark.functions import md5_hash64, shingles, tokens


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (2, 5, "p3")], "k int, t int, name string"
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (1, 30, 300.0), (3, 1, 999.0)],
        "k int, rt int, val double",
    )
    out = joins.asof_join(
        left, right, on="k", left_time="t", right_time="rt", right_values=["rt", "val"]
    )
    rows = {r["name"]: (r["rt"], r["val"]) for r in out.collect()}
    assert rows["p1"] == (10, 100.0)  # equal timestamps match (<=)
    assert rows["p2"] == (20, 200.0)  # latest at-or-before 25
    assert rows["p3"] == (None, None)  # no match -> left row kept, nulls


def test_range_join_inclusive_bounds(spark):
    pts = spark.createDataFrame([(1, 5.0), (2, 10.0), (3, 10.5)], "id int, x double")
    iv = spark.createDataFrame([(100, 5.0, 10.0)], "iid int, lo double, hi double")
    out = joins.range_join(pts, iv, "x", "lo", "hi", bucket_width=2.0)
    assert sorted(r["id"] for r in out.collect()) == [1, 2]  # both ends inclusive


def test_top_k_per_group_ties(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 5.0), ("g", 3, 4.0)], "grp string, id int, v double"
    )
    out = windows.top_k_per_group(
        df, ["grp"], [F.col("v").desc(), F.col("id").asc()], k=2
    )
    assert sorted(r["id"] for r in out.collect()) == [1, 2]  # deterministic tiebreak


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Same  Text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["dup_count"] for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    # normalization folds case+whitespace: docs 1 and 2 are duplicates
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over dogs"),
         (2, "the quick brown fox jumps over dogs"),
         (3, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=12, bands=4).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_minhash_lsh_bucket_cap(spark):
    # 1,000 copies of one boilerplate string (the license-header
    # degenerate case) collapse onto a single band signature; the bucket
    # cap must keep the ~500k-pair explosion out of candidate generation
    # while genuine small-bucket near-dups still pair up
    boiler = [(i, "this license header is repeated verbatim in every file") for i in range(1000)]
    near = [(2001, "one specific unusual sentence about walruses here"),
            (2002, "one specific unusual sentence about walruses here")]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")
    capped = dedup.minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=100)
    assert [(r["id_a"], r["id_b"]) for r in capped.collect()] == [(2001, 2002)]
    # the excluded bucket is exact-dup territory: exact_dedup collapses it
    kept = dedup.exact_dedup(df, "text", "doc_id")
    assert kept.where(F.col("dup_count") == 1000).count() == 1
    # opt-out reproduces the quadratic pair set (on this small corpus)
    uncapped = dedup.minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=None)
    assert uncapped.count() == 1000 * 999 // 2 + 1


def test_jaccard_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_ngram_jaccard_class_verification_matches_per_id(spark):
    """The class-level verification (one Jaccard per distinct
    content-class pair, mapped back to id pairs — the r9 rewrite that
    fixed the 100× timeout) must be bit-identical to verifying every id
    pair: same pair set, same rounded score per pair.  Duplicate-heavy
    corpus: two exact-dup classes that are near-dups OF EACH OTHER,
    plus a far-away class and a singleton."""
    from decimal import ROUND_HALF_UP, Decimal

    texts = {
        "A": "the quick brown fox jumps over the lazy dog today",
        "B": "the quick brown fox jumps over the lazy cat today",
        "C": "completely unrelated words about maritime navigation charts",
    }
    rows = (
        [(i, texts["A"]) for i in range(0, 4)]
        + [(i, texts["B"]) for i in range(10, 13)]
        + [(i, texts["C"]) for i in range(20, 22)]
        + [(30, "one lonely singleton document")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.3, num_hashes=12, bands=4
        ).collect()
    }
    # reference: same LSH candidates, verified PER ID PAIR from the
    # operator's own shingle relation (HALF_UP round like F.round)
    cands = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=12, bands=4
    ).collect()
    sets_: dict = {}
    toks = df.select("doc_id", tokens("text").alias("toks"))
    for r in toks.select("doc_id", shingles("toks", 3).alias("sh")).collect():
        sets_[r["doc_id"]] = set(r["sh"])
    want = {}
    for r in cands:
        a, b = sets_[r["id_a"]], sets_[r["id_b"]]
        j = Decimal(len(a & b)) / Decimal(len(a | b))
        j = float(j.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))
        if j >= 0.3:
            want[(r["id_a"], r["id_b"])] = j
    assert got == want
    # every within-class pair scores exactly 1.0, and every A-B
    # cross-class pair carries one uniform (class-level) score
    assert all(got[(i, j)] == 1.0 for i in range(0, 4) for j in range(i + 1, 4))
    ab = {v for (i, j), v in got.items() if i < 4 and j >= 10}
    assert len(ab) == 1 and 0.3 <= ab.pop() < 1.0


def test_simhash_is_deterministic_and_collides_for_dups(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    fps = [r["simhash"] for r in dedup.simhash(df, "text", "doc_id", bits=32).collect()]
    assert fps[0] == fps[1]


def test_simhash_banded_catches_low_hamming_near_dups(spark):
    # one changed word shifts a few fingerprint bits: exact collision
    # misses the pair, hamming banding must catch it (and must NOT pair
    # the hamming-6 variant that exceeds max_hamming=3)
    base = (
        "the quick brown fox jumps over the lazy dog near the riverbank"
        " at dawn every single morning without fail"
    )
    df = spark.createDataFrame(
        [(0, base), (1, base.replace("dog", "goat")), (2, base.replace("dog", "horse"))],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, "text", "doc_id", bits=32).collect()}
    assert fps[0] != fps[1], "precondition: near-dup pair must not exactly collide"
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_near_dup_pairs(
        df, "text", "doc_id", bits=32, bands=4, max_hamming=3
    ).collect()}
    assert (0, 1) in pairs and 1 <= pairs[(0, 1)] <= 3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_cosine_topk_self_excluded_and_ordered(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.cosine_topk(df, df.where(F.col("vec_id") == 1), "vec_id", "embedding", k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["cos"] > rows[1]["cos"]


def test_cosine_topk_null_vectors_rank_last(spark):
    """NULL query/corpus vectors take the zero-norm convention (NULL
    cosine, rank last) instead of raising inside the Arrow scan."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)], "vec_id long, embedding array<double>"
    )
    out = similarity.cosine_topk(corpus, q, "vec_id", "embedding", k=3)
    rows = {(r["query_id"], r["rank"]): r for r in out.collect()}
    # real query: real neighbors first, NULL-vec corpus row last w/ NULL cos
    assert rows[(10, 1)]["neighbor_id"] == 1
    assert rows[(10, 3)]["neighbor_id"] == 2 and rows[(10, 3)]["cos"] is None
    # NULL query: every cosine NULL, ties broken by neighbor id
    assert [rows[(11, r)]["neighbor_id"] for r in (1, 2, 3)] == [1, 2, 3]
    assert all(rows[(11, r)]["cos"] is None for r in (1, 2, 3))
    # all-NULL query side still executes (no matmul path)
    q_all_null = spark.createDataFrame(
        [(12, None)], "vec_id long, embedding array<double>"
    )
    out2 = similarity.cosine_topk(corpus, q_all_null, "vec_id", "embedding", k=2)
    assert [r["neighbor_id"] for r in sorted(out2.collect(), key=lambda r: r["rank"])] == [1, 2]


def test_lsh_bucket_is_stable(spark):
    df = spark.createDataFrame([(1, [float(i) for i in range(64)])], "id long, v array<float>")
    b1 = similarity.lsh_bucket(df, "v", num_planes=8, dim=64).collect()[0]["bucket"]
    b2 = similarity.lsh_bucket(df, "v", num_planes=8, dim=64).collect()[0]["bucket"]
    assert b1 == b2 and 0 <= b1 < 256


def test_shingles_edge_short_doc(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    assert df.select(shingles(tokens("text"), 3).alias("s")).collect()[0]["s"] == []


def test_md5_hash64_range(spark):
    h = spark.range(1).select(md5_hash64(F.lit("x")).alias("h")).collect()[0]["h"]
    assert 0 <= h < 2**60


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of the house is big",),
         ("el perro y la casa de que grande y bonita",),
         ("zzz qqq",)],
        "text string",
    )
    out = df.select(lang_id("text").alias("lang"), quality_score("text").alias("q")).collect()
    assert out[0]["lang"] == "en"
    assert out[1]["lang"] == "es"
    assert out[2]["lang"] == "und"
    for r in out:
        assert 0.0 <= r["q"] <= 1.0


def test_interval_overlap_join_no_duplicates(spark):
    a = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 20.0, 21.0)], "aid int, alo double, ahi double"
    )
    b = spark.createDataFrame(
        [(10, 5.0, 25.0), (11, 11.0, 12.0)], "bid int, blo double, bhi double"
    )
    out = joins.interval_overlap_join(a, b, "alo", "ahi", "blo", "bhi", bucket_width=2.0)
    pairs = sorted((r["aid"], r["bid"]) for r in out.collect())
    # (1,10): overlap [5,10]; (2,10): overlap [20,21]; (1,11) disjoint
    assert pairs == [(1, 10), (2, 10)]
    assert out.count() == len(set(pairs))  # duplicate-free by construction


def test_chunk_documents_overlap_and_tail(spark):
    from yet_another_map_reduce_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string")
    out = {r["chunk_id"]: r for r in chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=3).collect()}
    # chunks start at 0,3,6,9 -> 4 chunks; tail has 1 token
    assert sorted(out) == [0, 1, 2, 3]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert out[3]["chunk_text"] == "t9" and out[3]["n_tokens"] == 1
    # no-overlap default: stride == chunk size, token-count conserved
    flat = chunk_documents(df, "text", "doc_id", chunk_tokens=4).collect()
    assert sum(r["n_tokens"] for r in flat) == 10


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    brute = similarity.cosine_topk(emb, q, "vec_id", "embedding", k=5)
    ivf = similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=5, nlist=8, nprobe=8
    )
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    i = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in ivf.collect()}
    assert b == i


def test_ivf_partial_probe_is_subset_scan(spark, sf_dir):
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 2)
    out = similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=5, nlist=8, nprobe=2
    ).collect()
    # every query returns ranked neighbors, ranks dense from 1
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_connected_components_chain_merges_transitively(spark):
    """a-b, b-c, c-d is one component labeled by its min node even
    though a-d was never an edge; e-f is separate; propagation needs
    multiple rounds (diameter 3)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_label_direction(spark):
    """The min label must flow against edge direction too (edge given
    as (high, low))."""
    edges = spark.createDataFrame([(9, 1), (9, 5)], "src long, dst long")
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {(1, 1), (5, 1), (9, 1)}


def test_connected_components_star_matches_propagation(spark):
    """large-star/small-star contraction must produce the same component
    assignment as min-label propagation — including on a DEEP CHAIN,
    the shape where O(diameter) propagation is at its worst and the
    O(log n) contraction is the point."""
    chain = [(i, i + 1) for i in range(64)]                  # one 65-node chain
    cliques = [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
    extra = [(200, 201), (300, 300)]                         # pair + self-loop
    edges = spark.createDataFrame(chain + cliques + extra, "src long, dst long")
    want = {
        (r["id"], r["component"])
        for r in dedup.connected_components(edges, max_iterations=100).collect()
    }
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components_star(edges).collect()
    }
    # propagation keeps self-loop nodes (300); star drops self-loops, so
    # compare on the union contract: every non-self-loop node matches
    want = {p for p in want if p[0] != 300}
    got = {p for p in got if p[0] != 300}
    assert got == want
    assert ({c for _, c in got}) == {0, 100, 200}


def test_hll_sketch_merge_matches_full(spark, sf_dir):
    """Sketches built on disjoint halves and unioned must estimate like
    a straight re-aggregation — the incremental-rollup contract."""
    from yet_another_map_reduce_spark.operators import aggregates
    from yet_another_map_reduce_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "half", (F.col("l_orderkey") % 2).cast("int")
    )
    exact = li.select("l_orderkey").distinct().count()
    partials = aggregates.hll_sketch_partials(li, ["half"], "l_orderkey")
    merged = aggregates.hll_merge(partials, [], alias="est").collect()[0]["est"]
    assert abs(merged - exact) / exact < 0.05


def test_zorder_key_matches_bit_interleave(spark):
    """The Morton key equals a driver-side bit interleave, and its
    quartiles carve a 16x16 grid into exactly the four 8x8 quadrants
    (the property that makes parquet min/max stats prune 2-D ranges)."""
    from yet_another_map_reduce_spark.functions import zorder_key

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x int, y int"
    )
    rows = grid.select("x", "y", zorder_key(["x", "y"], bits=4).alias("z")).collect()

    def interleave(x, y, bits=4):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert all(r["z"] == interleave(r["x"], r["y"]) for r in rows)
    for q in range(4):
        quad = [(r["x"], r["y"]) for r in rows if q * 64 <= r["z"] < (q + 1) * 64]
        xs, ys = {x for x, _ in quad}, {y for _, y in quad}
        assert len(quad) == 64 and max(xs) - min(xs) == 7 and max(ys) - min(ys) == 7


def test_pack_sequences_respects_budget(spark, sf_dir):
    """Every bin's token total stays within budget (oversized docs get
    singleton bins), and every doc is packed exactly once."""
    from yet_another_map_reduce_spark.operators.text import pack_sequences, token_count
    from yet_another_map_reduce_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    packed = pack_sequences(d, "doc_id", "n_tok", budget=128)
    joined = packed.join(d, "doc_id")
    per_bin = joined.groupBy("bin_id").agg(
        F.sum("n_tok").alias("tot"), F.count("*").alias("n_docs")
    )
    over = per_bin.where((F.col("tot") > 128) & (F.col("n_docs") > 1)).count()
    assert over == 0, "multi-doc bins must fit the budget"
    assert packed.count() == d.count()
    assert packed.select("doc_id").distinct().count() == d.count()


def test_pack_sequences_deterministic_is_layout_invariant(spark, sf_dir):
    """The next-fit variant's bin assignment is a pure function of the
    data — identical under any input partitioning — and keeps the
    budget invariant."""
    from yet_another_map_reduce_spark.operators.text import (
        pack_sequences_deterministic,
        token_count,
    )
    from yet_another_map_reduce_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    pack = lambda df: sorted(  # noqa: E731
        map(
            tuple,
            pack_sequences_deterministic(
                df, "doc_id", "n_tok", budget=128, num_parts=8, seed=3
            ).collect(),
        )
    )
    a = pack(d)
    b = pack(d.repartition(13))
    assert a == b
    per_bin: dict = {}
    for _, _, bin_id, n in a:
        per_bin.setdefault(bin_id, []).append(n)
    for ns in per_bin.values():
        assert sum(ns) <= 128 or len(ns) == 1


def test_embedding_gram_path_equals_declarative(spark, sf_dir):
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.3)
    slow = {(r["id_a"], r["id_b"], r["cos"])
            for r in dedup.embedding_near_dup_pairs(emb, **kw).collect()}
    fast = {(r["id_a"], r["id_b"], r["cos"])
            for r in dedup.embedding_near_dup_pairs_gram(emb, **kw).collect()}
    assert slow == fast and len(fast) > 0
    # tile_rows=7 forces many strips per block (blocks are ~200 rows at
    # sf0.01): the memory-bounded tiled path must be pair-identical
    tiled = {(r["id_a"], r["id_b"], r["cos"])
             for r in dedup.embedding_near_dup_pairs_gram(
                 emb, tile_rows=7, **kw).collect()}
    assert tiled == fast


def test_embedding_near_dup_lsh_subset_of_exact(spark, sf_dir):
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", block_col="label",
              threshold=0.3)
    exact = {(r["id_a"], r["id_b"], r["cos"])
             for r in dedup.embedding_near_dup_pairs_gram(emb, **kw).collect()}
    lsh = {(r["id_a"], r["id_b"], r["cos"])
           for r in dedup.embedding_near_dup_pairs_lsh(
               emb, num_planes=3, **kw).collect()}
    # LSH blocking only ever REMOVES pairs (identical cos values on the
    # survivors), and at 3 planes a non-trivial fraction must survive
    assert lsh <= exact
    assert 0 < len(lsh) < len(exact)
    # an exact-duplicate pair has an identical signature: always kept
    dup = emb.limit(1).selectExpr("vec_id + 100000 AS vec_id",
                                  "embedding", "label")
    both = emb.select("vec_id", "embedding", "label").unionByName(dup)
    got = dedup.embedding_near_dup_pairs_lsh(
        both, num_planes=8, id_col="vec_id", vec_col="embedding",
        block_col="label", threshold=0.99)
    assert any(r["cos"] >= 0.999999 for r in got.collect())


def test_embedding_gram_size_guard_flips_to_lsh_subblocks(spark, sf_dir):
    """An over-threshold block sub-splits in-task by the same sign-LSH
    signature the LSH variant uses: guard output == LSH-variant output
    on the oversized block, == exact output on blocks under the cap,
    and the default cap leaves verification-scale data untouched."""
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", block_col="label",
              threshold=0.3)
    exact = {(r["id_a"], r["id_b"], r["cos"])
             for r in dedup.embedding_near_dup_pairs_gram(
                 emb, max_block_rows=None, **kw).collect()}
    # default cap (32768) never triggers at test scale: bit-identical
    assert {(r["id_a"], r["id_b"], r["cos"])
            for r in dedup.embedding_near_dup_pairs_gram(
                emb, **kw).collect()} == exact
    # cap of 1 row makes EVERY block oversized -> the whole result must
    # equal the LSH variant at the same plane count
    lsh = {(r["id_a"], r["id_b"], r["cos"])
           for r in dedup.embedding_near_dup_pairs_lsh(
               emb, num_planes=3, **kw).collect()}
    guarded_rows = dedup.embedding_near_dup_pairs_gram(
        emb, max_block_rows=1, guard_planes=3, **kw).collect()
    guarded = {(r["id_a"], r["id_b"], r["cos"]) for r in guarded_rows}
    assert guarded == lsh and 0 < len(guarded) < len(exact)
    # the approximate fallback is DETECTABLE: every pair from a
    # sub-split block carries guarded=True, exact-scan pairs False
    assert all(r["guarded"] for r in guarded_rows)
    assert not any(
        r["guarded"]
        for r in dedup.embedding_near_dup_pairs_gram(emb, **kw).collect()
    )


def test_lsh_star_edges_same_components_as_clique_pairs(spark, sf_dir):
    from yet_another_map_reduce_spark.operators import dedup
    from yet_another_map_reduce_spark.sources.readers import read_table

    d = read_table(spark, sf_dir, "documents")
    kw = dict(num_hashes=12, bands=4, shingle_k=3)
    pairs = dedup.minhash_lsh_pairs(d, "text", "doc_id", **kw)
    edges = dedup.minhash_lsh_edges(d, "text", "doc_id", **kw)
    n_pairs, n_edges = pairs.count(), edges.count()
    # the star form never emits MORE than the clique form, and on a
    # corpus with any 3+-member bucket it emits strictly fewer
    assert 0 < n_edges <= n_pairs
    # identical connected components from either edge set — the
    # property that licenses feeding CC from the linear star form
    cp = {(r["id"], r["component"])
          for r in dedup.connected_components(pairs, "id_a", "id_b").collect()}
    ce = {(r["id"], r["component"])
          for r in dedup.connected_components(edges, "id_a", "id_b").collect()}
    assert cp == ce


def _planted_clusters(spark, per_cluster=6):
    # 3 tight clusters near axis-aligned unit directions in 8 dims;
    # ids interleaved so the 3 lowest-id seed vectors land one per
    # cluster (ids 0,1,2 -> clusters 0,1,2)
    rows = []
    for j in range(per_cluster):
        for c in range(3):
            base = [0.0] * 8
            base[c * 2] = 10.0
            base[c * 2 + 1] = 1.0 + 0.1 * j  # small within-cluster spread
            rows.append((j * 3 + c, base))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_train_ivf_centroids_recovers_planted_clusters(spark):
    df = _planted_clusters(spark)
    cent = similarity.train_ivf_centroids(df, "vec_id", "v", nlist=3, iterations=4)
    got = {r["centroid_id"]: r["__centv"] for r in cent.collect()}
    assert len(got) == 3
    # each trained centroid must sit on its cluster's dominant axis and
    # equal the cluster mean in the spread coordinate (1.25 = mean of
    # 1.0..1.5)
    for c in range(3):
        v = got[c]
        assert v[c * 2] == 10.0
        assert abs(v[c * 2 + 1] - 1.25) < 1e-9
        assert all(x == 0.0 for i, x in enumerate(v) if i not in (c * 2, c * 2 + 1))


def test_train_ivf_centroids_deterministic(spark):
    df = _planted_clusters(spark)
    a = similarity.train_ivf_centroids(df, "vec_id", "v", nlist=3, iterations=3).collect()
    b = similarity.train_ivf_centroids(df, "vec_id", "v", nlist=3, iterations=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_train_ivf_centroids_empty_cluster_keeps_seed(spark):
    # two real clusters, nlist=3: seed 2 duplicates seed 0's vector, so
    # every tie breaks toward centroid 0 and cell 2 goes empty — it must
    # carry its seed forward, not collapse to NaN/zero
    rows = [
        (0, [10.0, 0.0]),
        (1, [0.0, 10.0]),
        (2, [10.0, 0.0]),
        (3, [10.0, 1.0]),
        (4, [0.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cent = similarity.train_ivf_centroids(df, "vec_id", "v", nlist=3, iterations=2)
    got = {r["centroid_id"]: list(r["__centv"]) for r in cent.collect()}
    assert got[2] == [10.0, 0.0]  # untouched seed
    assert got[0][0] > 9.0 and got[1][1] > 9.0


def test_ivf_topk_accepts_trained_centroids(spark, sf_dir):
    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_ivf_centroids(emb, "vec_id", "embedding", nlist=4, iterations=2)
    q = emb.where(F.col("vec_id") < 2)
    out = similarity.ivf_topk(
        emb, q, "vec_id", "embedding", k=5, nprobe=2, centroids=cent
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_decontaminate_flags_exact_ngram_overlap(spark):
    from yet_another_map_reduce_spark.operators import text

    holdout = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the holdout 4-gram "quick brown fox jumps"
            (1, "she saw the quick brown fox jumps right past"),
            # fully disjoint vocabulary
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.decontaminate(train, holdout, n=4).collect()}
    assert out[1]["is_contaminated"] and out[1]["matched_ngrams"] >= 1
    assert not out[2]["is_contaminated"] and out[2]["matched_ngrams"] == 0
    # total distinct 4-grams of an 8/9-token doc
    assert out[2]["total_ngrams"] == 5
    # the holdout gram set is always broadcast: the explicit hint is in
    # the analyzed plan (AQE may broadcast a small side anyway, so the
    # physical strategy alone would not show it)
    plan = text.decontaminate(train, holdout, n=4)._jdf.queryExecution().analyzed()
    assert "ResolvedHint" in plan.toString()


def test_decontaminate_runs_outside_repo_without_package_on_workers(tmp_path):
    """decontaminate from another working directory, with the repo only
    on the driver's sys.path (not PYTHONPATH): its grams are built-in
    expressions, so no Python worker has to import the package."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import json, sys; sys.path.insert(0, {repo!r})\n"
        "from yet_another_map_reduce_spark.session import build_session\n"
        "from yet_another_map_reduce_spark.operators.text import decontaminate\n"
        "spark = build_session()\n"
        "hold = spark.createDataFrame(\n"
        "    [(100, 'the quick brown fox jumps over the lazy dog')],\n"
        "    'doc_id long, text string')\n"
        "train = spark.createDataFrame(\n"
        "    [(1, 'she saw the quick brown fox jumps right past'),\n"
        "     (2, 'too short'), (3, None)], 'doc_id long, text string')\n"
        "rows = decontaminate(train, hold, n=4).orderBy('doc_id').collect()\n"
        "print(json.dumps([[r[0], r[1], r[2]] for r in rows]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # (doc_id, total_ngrams, matched_ngrams); short and NULL docs surface
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [
        [1, 6, 2],
        [2, 0, 0],
        [3, 0, 0],
    ]


def test_repetition_stats_catches_degenerate_doc(spark):
    from yet_another_map_reduce_spark.operators import text

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.repetition_stats(
            df, max_top_bigram_frac=0.5, max_dup_trigram_frac=0.5
        ).collect()
    }
    assert out[1]["top_unigram_frac"] == 1.0
    assert out[1]["dup_trigram_frac"] == 1.0  # all 4 trigrams identical
    assert not out[1]["keep"]
    assert out[2]["top_unigram_frac"] == 0.1  # 10 distinct tokens
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["keep"]


def test_boilerplate_ngrams_flags_corpus_common_header(spark):
    from yet_another_map_reduce_spark.operators import text

    header = "standard license header text here"
    rows = [(i, f"{header} unique body {i} word{i} tail{i} extra{i}") for i in range(4)]
    rows.append((9, "totally unique document body with no shared spans at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.boilerplate_ngram_stats(
            df, n=5, max_doc_freq=2, max_boilerplate_frac=0.1
        ).collect()
    }
    # the 5-gram starting the header appears in 4 docs -> boilerplate
    assert out[0]["boilerplate_ngrams"] >= 1 and not out[0]["keep"]
    assert out[9]["boilerplate_ngrams"] == 0 and out[9]["keep"]


def test_kmeans_assign_recovers_planted_clusters(spark):
    rows = [
        (0, [10.0, 0.0]), (1, [9.0, 1.0]), (2, [0.0, 10.0]),
        (3, [1.0, 9.0]), (4, [10.5, 0.5]), (5, [0.5, 10.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = similarity.kmeans_assign(df, "vec_id", "v", nlist=2, iterations=3)
    got = {r["vec_id"]: (r["cluster_id"], r["cos"]) for r in out.collect()}
    assert len(got) == 6
    # the two planted directions separate; cosine to own centroid is high
    assert got[0][0] == got[1][0] == got[4][0]
    assert got[2][0] == got[3][0] == got[5][0]
    assert got[0][0] != got[2][0]
    assert all(cos > 0.9 for _, cos in got.values())


def test_lloyd_trainers_run_two_jobs_per_iteration(spark):
    """Both trainers launch ``1 + 2·iterations`` Spark jobs (local[4],
    AQE on): the seed collect, then one aggregation per iteration, a
    shuffle-map and a result job.  ``kmeans_assign`` launches no job of
    its own beyond training.  With a two-aggregation IVF mean step
    training took ``1 + 3·iterations``, and reading the centroids back
    from a local relation cost ``kmeans_assign`` 3 more."""
    df = _planted_clusters(spark)
    for iterations in (1, 3):
        want = 1 + 2 * iterations
        for name, fn in (
            ("ivf", lambda: similarity.train_ivf_centroids(df, "vec_id", "v", 3, iterations)),
            ("pq", lambda: similarity.train_pq_codebooks(df, "vec_id", "v", 2, 3, iterations)),
            ("assign", lambda: similarity.kmeans_assign(df, "vec_id", "v", 3, iterations)),
        ):
            _, n = _jobs_launched(spark, f"lloyd_{name}_{iterations}", fn)
            assert (name, iterations, n) == (name, iterations, want)


def _ref_argbest(scores, better) -> int:
    # first best score wins: ties go to the lower id
    best = 0
    for j, x in enumerate(scores):
        if better(x, scores[best]):
            best = j
    return best


def _ref_means(cells, members):
    """New cell vectors: each member cell's 6-rounded component-wise
    mean; a cell with no member keeps its previous vector."""
    from yet_another_map_reduce_spark.operators.quantize import round_half_up

    out = list(cells)
    for key in range(len(cells)):
        vs = members.get(key)
        if vs:
            out[key] = [float(round_half_up(sum(x) / len(vs), 6)) for x in zip(*vs)]
    return out


def test_ivf_training_matches_python_lloyd(spark):
    """``train_ivf_centroids`` and ``kmeans_assign`` against a pure-Python
    spherical Lloyd's: lowest-id seeds, argmax of the 6-rounded dot with
    the unit centroid (ties to the lower id), 6-rounded member means,
    empty cells keep their centroid.  Seed 2 duplicates seed 0, so cell
    2 is empty in round 1, and vector 3 ties all three cells."""
    import math

    from yet_another_map_reduce_spark.operators.quantize import round_half_up

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [1.0, 1.0]),
        (4, [2.0, 0.5]), (5, [0.5, 3.0]), (6, [3.0, -1.0]), (7, [-1.0, 2.0]),
    ]

    def assign(cents, v):
        units = [[x / (math.sqrt(sum(y * y for y in c)) or 1.0) for x in c] for c in cents]
        scores = [float(round_half_up(sum(a * b for a, b in zip(v, u)), 6)) for u in units]
        return _ref_argbest(scores, lambda a, b: a > b), scores

    cents = [v for _, v in rows[:3]]
    ties = empties = 0
    for _ in range(3):
        members: dict[int, list] = {}
        for _, v in rows:
            j, scores = assign(cents, v)
            ties += scores.count(scores[j]) > 1
            members.setdefault(j, []).append(v)
        empties += len(cents) - len(members)
        cents = _ref_means(cents, members)
    assert ties and empties  # the planted tie and empty cell were hit

    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = similarity.train_ivf_centroids(df, "vec_id", "v", nlist=3, iterations=3)
    assert sorted((r["centroid_id"], list(r["__centv"])) for r in got.collect()) == list(
        enumerate(cents)
    )
    out = similarity.kmeans_assign(df, "vec_id", "v", nlist=3, iterations=3)
    assert {r["vec_id"]: r["cluster_id"] for r in out.collect()} == {
        i: assign(cents, v)[0] for i, v in rows
    }


def test_ivf_training_skips_null_vectors(spark):
    """A NULL vector takes no part in IVF training: the centroids, and
    ``kmeans_assign``'s clusters of the non-NULL rows, equal those of the
    same corpus with the NULL rows removed.  Id 2 is NULL, so it sits
    among the ``nlist`` lowest ids the trainer seeds from."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    clean = df.where(F.col("v").isNotNull())
    for nlist in (1, 2):
        got, want = (
            sorted(map(tuple, similarity.train_ivf_centroids(d, "vec_id", "v", nlist, 2).collect()))
            for d in (df, clean)
        )
        assert got == want and len(got) == nlist
        got, want = (
            {
                r["vec_id"]: (r["cluster_id"], r["cos"])
                for r in similarity.kmeans_assign(d, "vec_id", "v", nlist, 2).collect()
                if r["vec_id"] != 2
            }
            for d in (df, clean)
        )
        assert got == want and len(got) == 3


def test_kmeans_assign_gives_null_vectors_no_cluster(spark):
    """A NULL vector has no nearest centroid, so ``kmeans_assign`` gives
    it a NULL ``cluster_id`` and ``cos``.  Every dot product of a NULL
    vector is NULL, and the argmax over (d, -cid) structs would still
    pick cluster 0."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["cos"])
        for r in similarity.kmeans_assign(df, "vec_id", "v", 2, 2).collect()
    }
    assert out[2] == (None, None)
    assert all(out[i][0] in (0, 1) and out[i][1] is not None for i in (0, 1, 3))


def test_ivf_training_on_empty_corpus_gives_no_rows(spark):
    """A zero-row corpus trains no IVF model, and assignment and search
    over it give zero rows instead of failing on a stack of zero
    centroids.  An all-NULL corpus keeps its ids with NULL clusters."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = similarity.train_ivf_centroids(empty, "vec_id", "embedding", 4)
    assert cents.collect() == []
    assert similarity.kmeans_assign(empty, "vec_id", "embedding", 4).collect() == []
    hits = similarity.ivf_topk(
        empty, empty, "vec_id", "embedding", k=2, nlist=4, nprobe=1, centroids=cents
    )
    assert hits.collect() == []
    nulls = spark.createDataFrame([(1, None), (2, None)], "vec_id long, embedding array<float>")
    out = similarity.kmeans_assign(nulls, "vec_id", "embedding", 4).collect()
    assert sorted((r["vec_id"], r["cluster_id"], r["cos"]) for r in out) == [
        (1, None, None), (2, None, None)]


def test_pq_training_on_empty_corpus_gives_no_rows(spark):
    """A zero-row corpus trains no PQ codebooks, as IVF training
    gives no centroids, and encoding and ADC search with the empty
    model give zero rows instead of failing on a missing subspace."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    books = similarity.train_pq_codebooks(empty, "vec_id", "embedding")
    assert books == []
    assert similarity.pq_encode(empty, "vec_id", "embedding", books).collect() == []
    hits = similarity.pq_topk(empty, empty, "vec_id", "embedding", k=2, books=books)
    assert hits.collect() == []


def test_persisted_ivfpq_index_built_from_zero_rows_reads_back(spark, tmp_path):
    """An index built from a zero-row corpus has segments with no data
    files.  Search, append and compaction read each segment with the
    schema the build recorded, and give zero rows instead of failing to
    infer a schema."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    cents = similarity.train_ivf_centroids(empty, "vec_id", "embedding", 4)
    books = similarity.train_pq_codebooks(empty, "vec_id", "embedding")
    index_dir = str(tmp_path / "idx")
    similarity.build_ivfpq_index(empty, "vec_id", "embedding", index_dir, cents, books)

    def search():
        return similarity.search_ivfpq_index(
            spark, index_dir, empty, "vec_id", "embedding", k=2
        ).collect()

    assert search() == []
    similarity.append_to_ivfpq_index(spark, index_dir, empty, "vec_id", "embedding")
    assert search() == []
    similarity.compact_ivfpq_index(spark, index_dir)
    assert search() == []
    (seg,) = similarity._index_segments(spark, index_dir)
    assert seg.schema.simpleString() == (
        "struct<neighbor_id:bigint,pq_codes:array<int>,centroid_id:int>"
    )


def test_pq_training_matches_python_lloyd(spark):
    """``train_pq_codebooks`` against a pure-Python per-subspace Lloyd's:
    the lowest-id vectors' subvectors seed each codebook, a subvector
    takes the argmin of the 6-rounded squared L2 (ties to the lower
    code), means are 6-rounded, empty cells keep their centroid.  Seed 2
    duplicates seed 0, so code 2 is empty in round 1 of both subspaces,
    and vector 3 ties codes 0 and 1 in both."""
    from yet_another_map_reduce_spark.operators.quantize import round_half_up

    m, k, sub = 2, 3, 2
    rows = [
        (0, [0.0, 0.0, 1.0, 1.0]), (1, [2.0, 0.0, 5.0, 5.0]), (2, [0.0, 0.0, 1.0, 1.0]),
        (3, [1.0, 0.0, 3.0, 3.0]), (4, [2.5, 0.5, 0.0, 1.0]), (5, [-1.0, 0.5, 6.0, 4.0]),
        (6, [0.5, -0.5, 2.0, 2.0]),
    ]
    books = [[v[s * sub:(s + 1) * sub] for _, v in rows[:k]] for s in range(m)]
    ties = empties = 0
    for _ in range(3):
        for s in range(m):
            members: dict[int, list] = {}
            for _, v in rows:
                sv = v[s * sub:(s + 1) * sub]
                d = [float(round_half_up(sum((a - b) ** 2 for a, b in zip(sv, c)), 6))
                     for c in books[s]]
                j = _ref_argbest(d, lambda a, b: a < b)
                ties += d.count(d[j]) > 1
                members.setdefault(j, []).append(sv)
            empties += k - len(members)
            books[s] = _ref_means(books[s], members)
    assert ties and empties  # the planted tie and empty cell were hit

    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    assert similarity.train_pq_codebooks(df, "vec_id", "v", m=m, k=k, iterations=3) == books


def test_recursive_hierarchy_depths_match_log2(spark, sf_dir):
    import math

    from yet_another_map_reduce_spark.queries import QUERIES

    rows = QUERIES["recursive_hierarchy"](spark, sf_dir).collect()
    got = {r["s_suppkey"]: (r["root"], r["depth"]) for r in rows}
    assert got[0] == (0, 0)  # key 0 is its own isolated root
    # every key >= 1 descends from root 1 at depth floor(log2(k))
    for k, (root, depth) in got.items():
        if k >= 1:
            assert root == 1
            assert depth == math.floor(math.log2(k))


def test_ivf_partitioned_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The IVF 100 TB story made concrete: persist the corpus
    partitioned by assigned centroid, and a probe of nprobe cells scans
    ONLY those hive partitions (PartitionFilters in the scan, not a
    post-scan filter) — file-level pruning is what makes nprobe/nlist
    the real I/O fraction at scale."""
    import os

    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_assign(emb, "vec_id", "embedding", nlist=4, iterations=1)
    index_dir = os.path.join(str(tmp_path), "ivf_index")
    (
        emb.join(assigned.select("vec_id", "cluster_id"), "vec_id")
        .write.partitionBy("cluster_id")
        .parquet(index_dir)
    )
    probed = spark.read.parquet(index_dir).where(F.col("cluster_id").isin(0, 1))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cluster_id" in plan.split("PartitionFilters")[1][:120]
    # pruned read returns exactly the rows of the probed cells
    expected = assigned.where(F.col("cluster_id").isin(0, 1)).count()
    assert probed.count() == expected and expected > 0


def test_quantize_embeddings_values_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["qvec"] for r in similarity.quantize_embeddings(
        df, "vec_id", "embedding").collect()}
    # scale = 127/2: floor([63.5, -127, 31.75] + 0.5) = [64, -127, 32]
    assert out[1] == [64, -127, 32]
    assert out[2] == [0, 0, 0]  # zero vector stays zero, no division error


def test_quantized_topk_matches_exact_ranking_on_separated_vectors(spark):
    # well-separated directions: int8 quantization must preserve the
    # exact cosine ranking, and the zero vector must rank last (NULL)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = similarity.quantized_topk(
        df, df.where(F.col("vec_id") == 1), "vec_id", "embedding", k=4
    )
    rows = sorted(out.collect(), key=lambda r: r["qrank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3, 4]
    assert rows[0]["qcos"] > rows[1]["qcos"]
    assert rows[2]["qcos"] is None


def test_chunk_dedup_first_occurrence_wins_and_reassembles(spark):
    # doc 1 owns chunk "a b"; doc 2 repeats it then adds its own; doc 3
    # is entirely a copy of doc 1 and must come back empty
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d"), (3, "a b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup(df, "text", "doc_id", chunk_tokens=2).collect()
    }
    assert (out[1]["n_chunks"], out[1]["n_kept"], out[1]["dedup_text"]) == (1, 1, "a b")
    assert (out[2]["n_chunks"], out[2]["n_kept"], out[2]["dedup_text"]) == (2, 1, "c d")
    assert (out[3]["n_chunks"], out[3]["n_kept"], out[3]["dedup_text"]) == (1, 0, "")
    assert out[3]["kept_frac"] == 0.0


def test_chunk_dedup_chunk_order_preserved_within_doc(spark):
    # surviving chunks must reassemble in original order even when the
    # duplicate removed is in the middle
    df = spark.createDataFrame(
        [(1, "x y"), (2, "p q x y r s")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["dedup_text"]
        for r in dedup.chunk_dedup(df, "text", "doc_id", chunk_tokens=2).collect()
    }
    assert out[2] == "p q r s"


def test_global_ranked_equals_unpartitioned_window(spark):
    """global_ranked (range-partitioned two-phase rank) must reproduce
    row_number over an unpartitioned window EXACTLY — it exists so the
    single-task global window never runs on corpus-sized relations."""
    from pyspark.sql import Window

    from yet_another_map_reduce_spark.operators import sorts

    rows = [(i, float((i * 37) % 19)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(13)
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["rank"]
        for r in sorts.global_ranked(df, order, "rank").collect()
    }
    want = {
        r["id"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert got == want


def test_global_ranked_total_equals_window_count(spark):
    """The distributed rank with a total, on a 13-partition input, equals
    ``row_number()`` and ``count()`` over an unpartitioned window.  The
    total is a whole-frame sum in the offsets window, so the whole rank
    is 6 jobs (local[4]); a separate total aggregate plus a broadcast
    cross join made it 9."""
    from pyspark.sql import Window

    from yet_another_map_reduce_spark.operators import sorts

    rows = [(i, float((i * 37) % 19)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(13)
    order = [F.col("v").desc(), F.col("id").asc()]
    got, jobs = _jobs_launched(
        spark, "ranked-total",
        lambda: sorts.global_ranked(df, order, "rank", total_col="n").collect(),
    )
    want = df.select(
        "id", "v",
        F.row_number().over(Window.orderBy(*order)).cast("bigint").alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert list(got[0].asDict()) == ["id", "v", "rank", "n"]
    assert jobs <= 6, jobs


def test_histogram_equidepth_ntile_formula_matches_builtin(spark):
    """The rank-based ntile distribution used by histogram_equidepth
    must match F.ntile for uneven n (SQL standard: first n%B buckets
    get one extra row)."""
    from pyspark.sql import Window

    for n in (7, 23, 101):
        df = spark.createDataFrame([(i,) for i in range(n)], "k long")
        w = Window.orderBy("k")
        want = [r["b"] for r in df.select(F.ntile(10).over(w).alias("b")).collect()]
        nn = F.lit(n)
        q, r = F.floor(nn / 10), nn % 10
        big = r * (q + 1)
        rank = F.col("k") + 1
        bucket = F.when(rank <= big, F.ceil(rank / (q + 1))).otherwise(
            r + F.ceil((rank - big) / q)
        )
        got = [
            row["b"]
            for row in df.orderBy("k").select(bucket.cast("int").alias("b")).collect()
        ]
        assert got == want, n


def test_duplicated_spans_maximal_boundaries(spark):
    # docs 1 and 2 share a 10-token passage; with k=4 the span must be
    # reported MAXIMALLY (one row covering all 10 tokens), at each doc's
    # own offset, and the unique doc must produce no spans.
    shared = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [
            (1, "x1 x2 " + shared + " y1 y2"),
            (2, "z1 " + shared + " z2 z3 z4"),
            (3, "unique tokens only here nothing repeated at all q r s t"),
        ],
        "doc_id long, text string",
    )
    spans = dedup.duplicated_spans(df, "text", "doc_id", k=4).collect()
    by = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"]) for r in spans}
    assert len(spans) == 2  # one maximal span per sharing doc
    assert by[1] == (2, 11, 10)
    assert by[2] == (1, 10, 10)
    assert 3 not in by


def test_duplicated_spans_merges_touching_coverage_and_intra_doc(spark):
    # a 6-token phrase repeated inside ONE doc: duplicated 4-gram
    # positions are {0,1,2} and {6,7,8}; coverage [2,5] and [6,9]
    # touches, so the islands merge into a single whole-doc span.
    df = spark.createDataFrame(
        [(7, "p q r s t u p q r s t u")], "doc_id long, text string"
    )
    spans = dedup.duplicated_spans(df, "text", "doc_id", k=4).collect()
    assert [(r["span_start"], r["span_end"], r["span_tokens"]) for r in spans] == [(0, 11, 12)]


def test_grouped_ranked_tiers_agree_and_match_percent_rank(spark):
    # the distributed tier (forced via threshold=0) must produce the
    # SAME ranks/group totals as the window tier, and percent_rank
    # derived from them must equal Spark's own percent_rank()
    from pyspark.sql import Window

    from yet_another_map_reduce_spark.operators import sorts

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", F.length("text").cast("double").alias("q")
    )
    order = [F.col("q").asc(), F.col("doc_id").asc()]
    big = sorts.grouped_ranked_adaptive(
        df, ["lang"], order, "r", group_total_col="gn", single_task_threshold=0
    )
    small = sorts.grouped_ranked_adaptive(
        df, ["lang"], order, "r", group_total_col="gn", single_task_threshold=10**9
    )
    rows_b = {r["doc_id"]: (r["r"], r["gn"]) for r in big.collect()}
    rows_s = {r["doc_id"]: (r["r"], r["gn"]) for r in small.collect()}
    assert rows_b == rows_s and rows_b
    w = Window.partitionBy("lang").orderBy(*order)
    ref = {
        r["doc_id"]: r["pr"]
        for r in df.withColumn("pr", F.percent_rank().over(w)).collect()
    }
    for doc_id, (r, gn) in rows_b.items():
        expect = 0.0 if gn == 1 else (r - 1) / (gn - 1)
        assert ref[doc_id] == expect, doc_id


def test_reservoir_per_group_tiers_keep_identical_rows(spark):
    from yet_another_map_reduce_spark.operators import sampling

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    ).repartition(7)  # several input partitions so local top-k is real
    a = sampling.reservoir_per_group(
        df, ["c_mktsegment"], "c_custkey", 5, single_task_threshold=0
    )
    b = sampling.reservoir_per_group(
        df, ["c_mktsegment"], "c_custkey", 5, single_task_threshold=10**9
    )
    rows_a = {(r["c_mktsegment"], r["c_custkey"]) for r in a.collect()}
    rows_b = {(r["c_mktsegment"], r["c_custkey"]) for r in b.collect()}
    assert rows_a == rows_b
    from collections import Counter

    per = Counter(seg for seg, _ in rows_a)
    assert per and all(v == 5 for v in per.values())


def test_keep_best_dedup_highest_score_null_loses_tie_lowest_id(spark):
    df = spark.createDataFrame(
        [
            (1, "Same  DOC text", 0.5),   # dup class A (normalizes equal)
            (2, "same doc text", 0.9),    # winner: highest score
            (3, "same doc  TEXT", None),  # NULL score ranks last
            (4, "other body", 0.7),       # dup class B: tie on score...
            (5, "OTHER body", 0.7),       # ...lowest id (4) wins
            (6, "unique one", None),      # singleton, NULL score kept
        ],
        "doc_id long, text string, q double",
    )
    got = {
        r["doc_id"]: r["q"]
        for r in dedup.keep_best_dedup(df, "text", "doc_id", "q").collect()
    }
    assert got == {2: 0.9, 4: 0.7, 6: None}


def test_keep_best_dedup_nan_score_loses_like_null(spark):
    """NaN is mapped explicitly in the ordering key: an undefined score
    loses to ANY real score (unlike Spark's score-desc window ordering,
    where NaN sorts greatest and would WIN — the documented deliberate
    divergence).  All-NaN/NULL groups fall to the lowest-id tiebreak."""
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1, "dup body", nan),       # NaN loses to a real score
            (2, "DUP body", 0.1),       # winner despite the low score
            (3, "both bad", nan),       # all-undefined class:
            (4, "both  BAD", None),     # lowest id (3) wins the tie
            (5, "nan single", nan),     # singleton NaN kept
        ],
        "doc_id long, text string, q double",
    )
    rows = {
        r["doc_id"]: r["q"]
        for r in dedup.keep_best_dedup(df, "text", "doc_id", "q").collect()
    }
    assert set(rows) == {2, 3, 5}
    assert rows[2] == 0.1


def _py_winnow(text: str, k: int = 4, w: int = 5) -> set[tuple[int, int]]:
    """Driver-side reference winnowing (basic algorithm, Schleimer et
    al. 2003 Fig. 5): rightmost minimal gram hash per window; one
    partial window for docs shorter than w grams."""
    import hashlib
    import re

    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    grams = (
        [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k
        else []
    )
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams]
    if not hs:
        return set()
    out = set()
    for p in range(max(len(hs) - w, 0) + 1):
        win = hs[p : p + w]
        m = min(win)
        rp = p + max(i for i, h in enumerate(win) if h == m)
        out.add((hs[rp], rp))
    return out


def test_winnow_matches_reference_implementation(spark):
    # includes: long doc, doc shorter than w grams (one partial
    # window), doc shorter than k tokens (no grams -> no rows), and an
    # all-equal-hash run (rightmost-tie per window).
    from yet_another_map_reduce_spark.operators import text as T

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "tiny doc here now more"),  # 5 tokens -> 2 grams < w
        (3, "too short"),  # < k tokens -> no grams
        (4, "a a a a a a a a a a"),  # equal hashes, tie-break path
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set[tuple[int, int]]] = {}
    for r in T.winnow_fingerprints(df, "text", "doc_id", k=4, w=5).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp_hash"], r["fp_pos"]))
    for doc_id, body in docs:
        assert got.get(doc_id, set()) == _py_winnow(body), doc_id


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # the paper's guarantee: a shared token run of length >= w + k - 1
    # (here 8) forces at least one common fingerprint HASH, regardless
    # of surrounding context; disjoint-vocabulary docs share none.
    from yet_another_map_reduce_spark.operators import text as T

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    df = spark.createDataFrame(
        [
            (1, "ctx1 ctx2 ctx3 " + shared + " tail1 tail2"),
            (2, shared + " other words entirely different here"),
            (3, "fully disjoint vocabulary with no overlap whatsoever at all"),
        ],
        "doc_id long, text string",
    )
    by: dict[int, set[int]] = {}
    for r in T.winnow_fingerprints(df, "text", "doc_id", k=4, w=5).collect():
        by.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by[1] & by[2], "shared 8-token run must share a fingerprint"
    assert not (by[1] & by[3]) and not (by[2] & by[3])


def test_winnow_oversized_document_fails_loudly(spark, monkeypatch):
    """A document past the packing's 20-bit position budget must raise
    (F.assert_true guard), not silently corrupt the packed-min ordering
    with negative position keys.  The budget is shrunk via monkeypatch
    so the test doesn't build a 1M-token string; in-budget docs under
    the same shrunken constant still winnow fine."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from yet_another_map_reduce_spark.operators import text as T

    monkeypatch.setattr(T, "_WINNOW_POS_MOD", 8)
    toks = " ".join(f"t{i}" for i in range(20))  # 17 grams at k=4 > 8
    df = spark.createDataFrame([(1, toks)], "doc_id long, text string")
    with pytest.raises(SparkRuntimeException, match="token-grams"):
        T.winnow_fingerprints(df, "text", "doc_id", k=4, w=5).collect()
    ok = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6")], "doc_id long, text string"
    )
    assert T.winnow_fingerprints(ok, "text", "doc_id", k=4, w=5).count() > 0


def test_bigram_lm_score_hand_computed_and_bucketed(spark):
    # corpus: ab=4, ba=2, bc=1, zz=2; c(a)=4, c(b)=3, c(z)=2; V=4
    from yet_another_map_reduce_spark.operators import text
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c"), (3, "z z z")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.bigram_lm_score(
        df, "text", "doc_id", add_k=0.5).collect()}
    import math
    # doc1: (3*ln(4.5/6) + 2*ln(2.5/5)) / 5
    assert out[1]["avg_logprob"] == round(
        (3 * math.log(0.75) + 2 * math.log(0.5)) / 5, 6)
    # doc3: ln(2.5/4); doc2: (ln(4.5/6) + ln(1.5/5)) / 2
    assert out[3]["avg_logprob"] == round(math.log(0.625), 6)
    assert out[2]["avg_logprob"] == round(
        (math.log(0.75) + math.log(0.3)) / 2, 6)
    # terciles: doc1 most fluent, doc2 least
    assert (out[1]["lm_bucket"], out[3]["lm_bucket"], out[2]["lm_bucket"]) == (
        "head", "middle", "tail")
    assert out[1]["n_bigrams"] == 5


def test_bigram_lm_score_edges(spark):
    """Zero rows in, zero rows out; docs with fewer than 2 tokens give
    ``n_bigrams`` 0 and a NULL bucket; a lone scored doc is ``head``
    (percent_rank 0); a small corpus ranks in one single-task window,
    with no range exchange in the plan."""
    from yet_another_map_reduce_spark.operators import text

    def score(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return text.bigram_lm_score(df, "text", "doc_id")

    assert score([]).collect() == []
    short = score([(1, "a"), (2, ""), (3, None)]).collect()
    assert sorted((r["doc_id"], r["n_bigrams"], r["lm_bucket"]) for r in short) == [
        (1, 0, None), (2, 0, None), (3, 0, None)]
    one = score([(1, "a b c"), (2, "z")])
    assert {r["doc_id"]: (r["n_bigrams"], r["lm_bucket"]) for r in one.collect()} == {
        1: (2, "head"), 2: (0, None)}
    plan = one._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan


def test_bigram_lm_queries_warm_job_counts(spark, sf_dir):
    """Warm Spark jobs (construction + ``toPandas``, second run in one
    session) at the smoke sf.  The bigram-LM rank runs in one
    single-task window; construction counts the cached per-doc summary
    (1 job).  The range-partitioned rank ran warm 14 jobs for
    ``text_bigram_lm`` and 24 for ``pipeline_curation_v2``, none at
    construction; this form runs 3 and 13."""
    from yet_another_map_reduce_spark.queries import QUERIES

    for name, most in (("text_bigram_lm", 3), ("pipeline_curation_v2", 13)):
        def run():
            return QUERIES[name](spark, sf_dir).toPandas()

        run()
        _, jobs = _jobs_launched(spark, f"warm-{name}", run)
        assert jobs <= most, (name, jobs)


def test_build_vocab_rank_and_tiebreak(spark):
    from yet_another_map_reduce_spark.operators import text

    df = spark.createDataFrame(
        [(1, "b b a a c")], "doc_id long, text string"
    )
    rows = sorted(
        text.build_vocab(df, "text", vocab_size=2).collect(),
        key=lambda r: r["vocab_id"],
    )
    # a and b tie on count 2 -> token asc breaks it; c is cut
    assert [(r["token"], r["token_count"], r["vocab_id"]) for r in rows] == [
        ("a", 2, 1), ("b", 2, 2)]


def test_oov_stats_counts_out_of_vocab_tokens(spark):
    from yet_another_map_reduce_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a b zz"), (2, "a a")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    out = {r["doc_id"]: r for r in text.oov_stats(
        docs, "text", "doc_id", vocab).collect()}
    assert (out[1]["n_tokens"], out[1]["n_oov"], out[1]["oov_rate"]) == (3, 1, round(1 / 3, 6))
    assert (out[2]["n_tokens"], out[2]["n_oov"], out[2]["oov_rate"]) == (2, 0, 0.0)


def test_incremental_dedup_drops_seen_and_dedups_within_batch(spark):
    seen = spark.createDataFrame([(100, "old news")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "Old  News"), (2, "fresh story"), (3, "fresh story"), (4, "unique")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["dup_count"] for r in dedup.incremental_dedup(
        batch, seen, "text", "doc_id").collect()}
    # doc 1 normalizes to seen text -> dropped; 2/3 collapse; 4 survives
    assert out == {2: 2, 4: 1}


def test_pmi_cooccurrence_hand_computed(spark):
    from yet_another_map_reduce_spark.operators import text
    import math

    # 4 docs: (a,b) together in 2, a alone in 1, b alone in 1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a"), (4, "b")],
        "doc_id long, text string",
    )
    rows = text.pmi_cooccurrence(
        df, "text", "doc_id", min_token_docs=1, min_pair_docs=1
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["token_a"], r["token_b"], r["pair_docs"], r["docs_a"], r["docs_b"]) == (
        "a", "b", 2, 3, 3)
    # pmi = ln(2*4 / (3*3))
    assert r["pmi"] == round(math.log(8 / 9), 6)
    # duplicate tokens within a doc must not inflate document frequency
    df2 = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    r2 = text.pmi_cooccurrence(df2, "text", "doc_id", 1, 1).collect()[0]
    assert (r2["pair_docs"], r2["docs_a"], r2["docs_b"]) == (1, 1, 1)


def test_pq_encode_seeds_map_to_their_own_codes(spark):
    # with iterations=0 the codebooks ARE the k lowest-id vectors'
    # subvectors, so each seed must encode to its own cid in every
    # subspace (distance 0, ties impossible on distinct vectors)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 5.0, 0.0]), (2, [0.0, 2.0, 0.0, 6.0]), (3, [9.0, 9.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    books = similarity.train_pq_codebooks(
        df, "vec_id", "embedding", m=2, k=3, iterations=0
    )
    assert len(books) == 2 and len(books[0]) == 3 and len(books[0][0]) == 2
    codes = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(
        df, "vec_id", "embedding", books).collect()}
    assert codes == {1: [0, 0], 2: [1, 1], 3: [2, 2]}


def test_pq_training_is_deterministic(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = similarity.train_pq_codebooks(df, "vec_id", "embedding", m=2, k=4, iterations=2)
    b2 = similarity.train_pq_codebooks(
        df.repartition(7), "vec_id", "embedding", m=2, k=4, iterations=2
    )
    assert b1 == b2  # layout-invariant fixpoints (the 6-rounding contract)


def test_pq_topk_single_subspace_matches_l2_to_codebook(spark):
    # m=1, iterations=0: ADC distance == exact squared L2 to the
    # nearest seed, so ranking equals brute-force L2 over the seed set
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [4.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.pq_topk(
        df, df.where(F.col("vec_id") == 1), "vec_id", "embedding",
        k=2, m=1, nclusters=3, iterations=0,
    )
    rows = sorted(out.collect(), key=lambda r: r["qrank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["adist"] == 1.0 and rows[1]["adist"] == 16.0


def test_hash_embed_buckets_and_l2_norm(spark):
    from yet_another_map_reduce_spark.operators import text

    df = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    rows = text.hash_embed(df, "text", "doc_id", dim=16).collect()
    by_dim = {r["dim"]: r for r in rows}
    import hashlib
    buckets = {
        t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 16 for t in ("a", "b")
    }
    if buckets["a"] == buckets["b"]:  # one combined bucket of count 3
        assert len(rows) == 1 and rows[0]["n"] == 3 and rows[0]["w"] == 1.0
    else:
        assert by_dim[buckets["a"]]["n"] == 2 and by_dim[buckets["b"]]["n"] == 1
        import math
        assert by_dim[buckets["a"]]["w"] == round(2 / math.sqrt(5), 6)
        assert by_dim[buckets["b"]]["w"] == round(1 / math.sqrt(5), 6)


def test_ivfpq_exhaustive_probe_equals_pq(spark):
    # with nprobe == nlist the cell pruning is a no-op, so the composed
    # index must return exactly the plain PQ/ADC ranking
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 2)
    full = similarity.ivfpq_topk(
        df, q, "vec_id", "embedding", k=5, nlist=4, nprobe=4,
        m=2, nclusters=4, iterations=1,
    )
    plain = similarity.pq_topk(
        df, q, "vec_id", "embedding", k=5, m=2, nclusters=4, iterations=1,
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, plain.collect()))


def test_quantized_and_pq_recall_on_planted_clusters(spark):
    # 6 tight clusters of 5 vectors each: for every query, the exact
    # top-4 are its cluster-mates; int8 quantization must preserve that
    # perfectly, and PQ/ADC must keep high overlap (recall@4 >= 0.75)
    import random

    rnd = random.Random(11)
    rows = []
    for c in range(6):
        center = [rnd.uniform(-1, 1) for _ in range(16)]
        for j in range(5):
            rows.append(
                (c * 10 + j, [x + rnd.uniform(-0.01, 0.01) for x in center])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") % 10 == 0)

    def recall(out_df, rank_col):
        got = {}
        for r in out_df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        per_q = [
            len({qid + 1, qid + 2, qid + 3, qid + 4} & neigh) / 4
            for qid, neigh in got.items()
        ]
        return sum(per_q) / len(per_q)

    quant = similarity.quantized_topk(df, q, "vec_id", "embedding", k=4)
    assert recall(quant, "qrank") == 1.0
    pq = similarity.pq_topk(
        df, q, "vec_id", "embedding", k=4, m=4, nclusters=8, iterations=2
    )
    assert recall(pq, "qrank") >= 0.75


def test_bm25_ranks_planted_relevant_doc_first(spark):
    from yet_another_map_reduce_spark.operators import text

    docs = [
        (1, "cats cats cats dogs"),          # high tf for 'cats'
        (2, "cats and other animals here"),  # one hit, longer
        (3, "nothing about pets at all"),    # no hits
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = sorted(
        text.bm25_search(df, "text", "doc_id", ["cats"], top=5).collect(),
        key=lambda r: r["qrank"],
    )
    assert [r["doc_id"] for r in out] == [1, 2]  # no-hit doc absent
    assert out[0]["score"] > out[1]["score"]


def test_bpe_train_merges_hand_computed(spark):
    from yet_another_map_reduce_spark.operators import text

    # corpus: "abab" x2, "ab" x1.
    # round 1 pair counts: (a,b)=2*2+1=5, (b,a)=2 -> merge (a,b)
    # round 2 segments: abab->[ab,ab], ab->[ab]; pairs: (ab,ab)=2 -> merge
    # round 3 segments: abab->[abab], ab->[ab]; no pairs -> early stop
    merges = text.bpe_train_merges([("abab", 2), ("ab", 1)], 5)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_bpe_train_tie_breaks_lexicographic(spark):
    from yet_another_map_reduce_spark.operators import text

    # (a,b) and (b,c) both appear once in "abc": tie at count 1+... in
    # "abc": pairs (a,b)=1, (b,c)=1 -> lexicographic smallest wins
    merges = text.bpe_train_merges([("abc", 1)], 1)
    assert merges == [("a", "b")]


def test_bpe_tokens_expression_matches_python_apply(spark):
    from yet_another_map_reduce_spark.operators import text

    docs = [
        (1, "the merger merged mergers"),
        (2, "merge other theory there"),
        (3, "Mixed CASE and, punctuation! the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    wc = {}
    import re as _re

    for _, t in docs:
        for w in _re.findall("[a-z]+", t.lower()):
            wc[w] = wc.get(w, 0) + 1
    word_counts = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    merges = text.bpe_train_merges(word_counts, 8)
    assert merges, "training must learn at least one merge"

    got = {
        r["doc_id"]: r["toks"]
        for r in df.select(
            "doc_id", text.bpe_tokens("text", merges).alias("toks")
        ).collect()
    }
    for doc_id, t in docs:
        want = []
        for w in _re.findall("[a-z]+", t.lower()):
            s = list(w)
            for m in merges:
                s = text._bpe_apply_merge(s, m)
            want.extend(s)
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    # leftmost-greedy: concatenating tokens reconstructs the words
    assert "".join(got[1]) == "themergermergedmergers"


def test_bpe_arrow_tier_matches_codegen_on_trained_table(spark):
    # the twin pattern (df_wordcount/rdd_wordcount): both apply tiers
    # over the same trained merge table must produce identical token
    # arrays — this is what licenses the Arrow min-rank encoder as the
    # scale path for merge tables past the codegen ceiling
    from yet_another_map_reduce_spark.operators import text

    docs = [
        (1, "the merger merged mergers merge"),
        (2, "merge other theory there then them"),
        (3, "Mixed CASE and, punctuation! the theme"),
        (4, None),
        (5, "zzz 123 !!!"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    wc = {}
    import re as _re

    for _, t in docs:
        for w in _re.findall("[a-z]+", (t or "").lower()):
            wc[w] = wc.get(w, 0) + 1
    word_counts = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    merges = text.bpe_train_merges(word_counts, 20)
    assert len(merges) > 4
    out = df.select(
        "doc_id",
        text.bpe_tokens("text", merges).alias("cg"),
        text.bpe_tokens_arrow(merges)(F.col("text")).alias("ar"),
    ).collect()
    for r in out:
        assert r["cg"] == r["ar"], (r["doc_id"], r["cg"], r["ar"])


def test_bpe_8k_arrow_matches_driver_python_encode(spark, sf_dir):
    """The Arrow encoder with the REALISTIC 8,192-merge table (the
    exact table text_bpe_tokenize_8k ships in its task closure) must
    reproduce the driver-side reference encode word-for-word on real
    corpus documents — the distributed-path check that complements the
    pure-python tier-equivalence property test at this table size."""
    import re as _re

    from yet_another_map_reduce_spark.operators import text
    from yet_another_map_reduce_spark.queries import _bpe_realistic_merges
    from yet_another_map_reduce_spark.sources.readers import read_table

    merges = _bpe_realistic_merges()
    d = read_table(spark, sf_dir, "documents").limit(40)
    got = {
        r["doc_id"]: r["toks"]
        for r in d.select(
            "doc_id", text.bpe_tokens_dispatch("text", merges).alias("toks")
        ).collect()
    }
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    pat = _re.compile(text.BPE_WORD_RE)
    memo: dict = {}
    for r in d.select("doc_id", "text").collect():
        want = []
        for w in pat.findall((r["text"] or "").lower()):
            want.extend(text._bpe_encode_word(w, ranks, memo))
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_bpe_dispatch_gates_on_merge_count(spark):
    import pytest

    from yet_another_map_reduce_spark.operators import text

    big = [(f"s{i}", f"t{i}") for i in range(text.BPE_CODEGEN_MAX_MERGES + 1)]
    with pytest.raises(ValueError):
        text.bpe_tokens("text", big)
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    # dispatch must still evaluate (arrow tier) for an oversized table
    assert df.select(
        text.bpe_tokens_dispatch("text", big).alias("t")
    ).first()["t"] == ["a", "b", "c"]


def test_bpe_dispatch_corpus_arm_routes_to_arrow(spark):
    # a big corpus (n_docs hint) must route to the Arrow tier even at a
    # demo-scale merge table — detectable in the plan (ArrowEvalPython /
    # no chain of literal replaces) — and produce identical tokens
    from yet_another_map_reduce_spark.operators import text

    df = spark.createDataFrame(
        [(1, "low lower lowest low low")], "doc_id long, text string"
    )
    merges = [("l", "o"), ("lo", "w")]
    small = df.select(text.bpe_tokens_dispatch("text", merges, n_docs=10).alias("t"))
    big = df.select(
        text.bpe_tokens_dispatch(
            "text", merges, n_docs=text.BPE_CODEGEN_MAX_DOCS + 1
        ).alias("t")
    )
    assert "replace" in small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()
    assert small.first()["t"] == big.first()["t"]


def test_semantic_dedup_drops_higher_id_near_dups_within_cluster(spark):
    from yet_another_map_reduce_spark.operators import dedup, similarity

    # two tight planted clusters around orthogonal axes; vec 3 is an
    # exact dup of vec 1, vec 12 a near-dup of vec 10; vec 20 is far
    # from everything (kept)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),          # dup of 1 -> dropped
        (10, [0.0, 1.0, 0.0, 0.0]),
        (12, [0.0, 0.98, 0.2, 0.0]),        # near-dup of 10 -> dropped
        (20, [0.0, 0.0, 0.0, 1.0]),         # isolated -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.train_ivf_centroids(
        df, "vec_id", "embedding", nlist=3, iterations=2
    )
    out = {
        r["vec_id"]: r["is_kept"]
        for r in dedup.semantic_dedup(
            df, "vec_id", "embedding", cent, threshold=0.9
        ).collect()
    }
    assert out[1] and out[10] and out[20], "cluster representatives kept"
    assert not out[3], "exact dup of a lower id must be dropped"
    assert not out[12], "near-dup above threshold must be dropped"


def test_operator_caches_are_tracked_and_releasable(spark):
    """Operator-owned .cache() lifecycle: every operator cache goes
    through caching.tracked_cache so a long-lived session can release
    them all (release_operator_caches) instead of accumulating
    InMemoryRelations until LRU churn."""
    from yet_another_map_reduce_spark import caching
    from yet_another_map_reduce_spark.operators import graph

    import time

    def storage_bytes() -> int:
        # executor storage actually holding cached blocks — the thing
        # tracked_count() only approximates (r7/r8 verdict: assert the
        # MEMORY drops, not just the tracker length)
        return sum(
            i.memSize()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )

    def wait_until(pred, timeout=15.0) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if pred():
                return True
            time.sleep(0.2)
        return pred()

    caching.release_operator_caches()
    spark.catalog.clearCache()
    # delta-based floor: other tests may leave raw RDD persists that
    # catalog.clearCache() does not touch — what must hold is that THIS
    # operator's caches appear in storage and release returns them.
    # unpersist is ASYNC, so a prior test's blocks can still be draining
    # here: poll until two consecutive readings agree before taking the
    # floor (a stale-high floor made the storage-grows assert fail in
    # one full-suite run).
    floor = storage_bytes()
    for _ in range(30):
        time.sleep(0.3)
        cur = storage_bytes()
        if cur == floor:
            break
        floor = cur
    before = caching.tracked_count()
    assert before == 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    out = graph.pagerank(edges, iterations=2)
    assert out.count() == 3
    assert caching.tracked_count() >= 3  # edges, deg, nodes
    assert storage_bytes() > floor  # the caches occupy real storage memory
    released = caching.release_operator_caches()
    assert released >= 3
    assert caching.tracked_count() == 0
    # ...and release actually returns the storage memory (unpersist is
    # async/non-blocking, so poll), not just empties the tracker
    assert wait_until(lambda: storage_bytes() <= floor)
    # released caches are gone from the storage layer, work still reruns
    assert graph.pagerank(edges, iterations=1).count() == 3
    caching.release_operator_caches()


def test_perceptron_converges_and_reports_trajectory(spark):
    from yet_another_map_reduce_spark.operators import classify

    # symmetric, separable through the origin: y = sign(f1)
    rows = [(1, 5), (1, 6), (-1, -5), (-1, -6)]
    df = spark.createDataFrame(rows, "y long, f1 long")
    out = classify.perceptron_train(df, "y", ["f1"], iterations=3).collect()
    assert [r["iteration"] for r in out] == [1, 2, 3]
    # iteration 1: zero weights misclassify everything (margin 0 is a
    # miss), so the update is sum(y*x) over ALL rows: w0 = sum(y) = 0,
    # w1 = 5 + 6 + 5 + 6 = 22 — which separates the data strictly
    assert out[0]["n_mis"] == 4 and out[0]["w0"] == 0 and out[0]["w1"] == 22
    # every later pass is clean and leaves the weights untouched
    for r in out[1:]:
        assert r["n_mis"] == 0 and (r["w0"], r["w1"]) == (0, 22)


def test_perceptron_weights_are_partitioning_invariant(spark):
    from yet_another_map_reduce_spark.operators import classify

    rows = [
        (1 if i % 3 else -1, i % 7, (i * i) % 11, i % 5) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "y long, a long, b long, c long")
    cols = ["a", "b", "c"]
    one = classify.perceptron_train(df.coalesce(1), "y", cols, 3).collect()
    many = classify.perceptron_train(df.repartition(13), "y", cols, 3).collect()
    # integer sums are accumulation-order independent: bit-equal models
    assert [tuple(r) for r in one] == [tuple(r) for r in many]


def test_perceptron_averaged_extends_plain_trajectory(spark):
    """The averaged trainer is the plain trainer plus bookkeeping: its
    (iteration, n_mis, w*) columns must equal perceptron_train's
    bit-for-bit, and each s* column must be the running sum of the w*
    column — integer-exact, any partitioning."""
    from yet_another_map_reduce_spark.operators import classify

    rows = [
        (1 if i % 3 else -1, i % 7, (i * i) % 11, i % 5) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "y long, a long, b long, c long")
    cols = ["a", "b", "c"]
    plain = classify.perceptron_train(df.repartition(9), "y", cols, 4).collect()
    avg = classify.perceptron_train_averaged(
        df.repartition(13), "y", cols, 4
    ).collect()
    running = [0] * 4
    for p, a in zip(plain, avg):
        assert (a["iteration"], a["n_mis"]) == (p["iteration"], p["n_mis"])
        for k in range(4):
            assert a[f"w{k}"] == p[f"w{k}"]
            running[k] += p[f"w{k}"]
            assert a[f"s{k}"] == running[k]


def test_perceptron_score_is_map_only(spark):
    from yet_another_map_reduce_spark.operators import classify

    df = spark.createDataFrame(
        [(10, 1, 5), (20, 1, 1)], "id long, bias long, f1 long"
    )
    scored = classify.perceptron_score(df, [0, 12], ["f1"], "id")
    got = {r["id"]: (r["margin"], r["predicted"]) for r in scored.collect()}
    assert got == {10: (60, 1), 20: (12, 1)}
    # model ships as literals: no Exchange anywhere in the plan
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_perceptron_matches_pure_python_reference(spark):
    """Randomized equivalence: the distributed batch trainer's full
    trajectory equals a pure-Python reference loop on the same rows —
    integer arithmetic means exact equality, no tolerance."""
    import random

    from yet_another_map_reduce_spark.operators import classify

    rng = random.Random(42)
    # the last trial plants one row whose feature pushes a weight out of
    # INT range, past 2^31 (its margins stay within int64)
    for big in (False, False, False, True):
        rows = [
            (rng.choice([1, -1]), rng.randint(-9, 9), rng.randint(-9, 9))
            for _ in range(60)
        ] + ([(1, 2**31 + 1000, 1)] if big else [])
        w = [0, 0, 0]
        expect = []
        for it in range(1, 4):
            mis = [
                (y, (1, a, b))
                for (y, a, b) in rows
                if y * (w[0] + w[1] * a + w[2] * b) <= 0
            ]
            g = [sum(y * x[k] for y, x in mis) for k in range(3)]
            w = [w[k] + g[k] for k in range(3)]
            expect.append((it, len(mis), *w))
        df = spark.createDataFrame(rows, "y long, a long, b long")
        got = [
            tuple(r)
            for r in classify.perceptron_train(df, "y", ["a", "b"], 3).collect()
        ]
        assert got == expect
        if big:
            assert max(abs(v) for r in expect for v in r[2:]) > 2**31
            # every weight is a BIGINT literal in the step's SQL
            assert all(f"{wk}L * x{k}" in e for e in classify._step_sql(w)
                       for k, wk in enumerate(w))


def _jobs_launched(spark, group: str, fn):
    """``fn()``'s result and the number of Spark jobs it launched,
    counted with a job group and ``statusTracker``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ref_averaged_trajectory(rows, iterations: int) -> list[tuple]:
    """Pure-Python ``perceptron_train_averaged`` over (y, x1..xn) rows:
    per iteration n_mis before the update, weights after it, and their
    running sums."""
    n = len(rows[0]) - 1
    w, s, out = [0] * (n + 1), [0] * (n + 1), []
    for it in range(1, iterations + 1):
        mis = [(r[0], (1, *r[1:])) for r in rows
               if r[0] * sum(wk * xk for wk, xk in zip(w, (1, *r[1:]))) <= 0]
        w = [w[k] + sum(y * x[k] for y, x in mis) for k in range(n + 1)]
        s = [s[k] + w[k] for k in range(n + 1)]
        out.append((it, len(mis), *w, *s))
    return out


def test_perceptron_runs_one_job_per_iteration(spark):
    """Each training iteration is one single-stage Spark job: the
    iteration's sums are an ``Observation`` on the features' checkpoint
    job (iteration 1) or on a noop write of the checkpoint (the rest).
    With an aggregate collected per iteration it was 2 jobs per
    iteration under AQE."""
    from yet_another_map_reduce_spark.operators import classify

    rows = [(1 if i % 3 else -1, i % 7, (i * i) % 11, i % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "y long, a long, b long, c long")
    for iterations in (1, 5):
        out, n = _jobs_launched(
            spark, f"perceptron_{iterations}",
            lambda: classify.perceptron_train_averaged(df, "y", ["a", "b", "c"], iterations),
        )
        assert n == iterations
        assert [tuple(r) for r in out.collect()] == _ref_averaged_trajectory(rows, iterations)


def test_perceptron_on_empty_input_is_all_zero(spark):
    """An empty corpus trains to an all-zero trajectory in one job per
    iteration (6 for 3 iterations with a collected aggregate): each
    iteration's observed sums arrive (NULL sums read as 0) instead of
    ``Observation.get`` waiting for metrics that never come."""
    import threading

    from yet_another_map_reduce_spark.operators import classify

    empty = spark.createDataFrame([], "y long, a long")
    got: list = []
    t = threading.Thread(
        target=lambda: got.extend(_jobs_launched(
            spark, "perceptron_empty",
            lambda: classify.perceptron_train_averaged(empty, "y", ["a"], 3).collect(),
        )),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "training on an empty input blocked"
    out, n = got
    assert n == 3
    assert [tuple(r) for r in out] == [(it, 0, 0, 0, 0, 0) for it in (1, 2, 3)]


def test_temperature_mixture_preserves_expected_corpus_size(spark):
    """The α-rule's defining identity: Σ r_l·n_l = N (expected corpus
    size preserved exactly), and rates order inversely to group size
    (rare groups upsample, dominant groups downsample)."""
    rows = (
        [(i, "en") for i in range(600)]
        + [(i + 1000, "fr") for i in range(300)]
        + [(i + 2000, "zh") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    from pyspark.sql import functions as F

    alpha = 0.7
    totals = df.groupBy("lang").agg(F.count("*").alias("n"))
    pw = totals.select("lang", "n", F.pow("n", F.lit(alpha)).alias("pn"))
    tot = pw.agg(F.sum("n").alias("nn"), F.sum("pn").alias("z"))
    w = {
        r["lang"]: ((r["pn"] / r["z"]) / (r["n"] / r["nn"]), r["n"])
        for r in pw.join(F.broadcast(tot)).collect()
    }
    assert abs(sum(rate * n for rate, n in w.values()) - 1000) < 1e-9
    assert w["zh"][0] > w["fr"][0] > 1.0 > w["en"][0]


def test_text_operators_survive_pathological_corpus(spark):
    """Robustness sweep: NULL text, empty string, whitespace-only,
    single-token, and unicode docs must flow through the text/dedup/
    classifier surface without exceptions and with sane outputs —
    a real ingest sees all of these on day one."""
    from yet_another_map_reduce_spark.operators import classify, dedup, text
    from yet_another_map_reduce_spark.functions import normalize_text

    rows = [
        (1, None, "en"),
        (2, "", "en"),
        (3, "   \t  ", "fr"),
        (4, "word", "en"),
        (5, "naïve café über große 東京 データ", "de"),
        (6, "the quick brown fox jumps over the lazy dog", "en"),
        (7, "the quick brown fox jumps over the lazy dog", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # exact dedup: the two real duplicates collapse — and so do the
    # empty + whitespace-only docs (both normalize to ""), which is the
    # CORRECT curation semantics: content-free docs are one class
    kept = dedup.exact_dedup(df, "text", "doc_id")
    classes = {r["doc_id"]: r["dup_count"] for r in kept.collect()}
    assert classes[6] == 2 and 7 not in classes  # true dups collapse
    assert classes[2] == 2 and 3 not in classes  # ""-normalized class

    # shingles: docs shorter than k have no shingles, not errors
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", shingles(tokens("text"), 3).alias("sh")).collect()
    }
    assert sh[2] == sh[3] == sh[4] == []

    # minhash pairs: only the true duplicate pair surfaces
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", num_hashes=12, bands=4)
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(6, 7)]

    # text stats: one row per doc, no exception on NULL/empty
    stats = text.text_stats(df, "text", "doc_id")
    assert stats.count() == len(rows)

    # classifier: NULL features must not poison training (NULL margin
    # rows are conservatively counted via Spark/SQL NULL semantics,
    # never raised); weights stay integers
    feats = df.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.size(F.split(normalize_text("text"), " ")).alias("f1"),
        F.length("text").alias("f2"),
    )
    out = classify.perceptron_train(feats, "y", ["f1", "f2"], 2).collect()
    assert len(out) == 2 and all(isinstance(r["w1"], int) for r in out)


def test_boundary_audit_stragglers_match_builtins(spark):
    """discounted_price had zero direct references once the coverage
    audit matched identifier BOUNDARIES instead of substrings (r11
    ADVICE — it had been shadow-covered by a same-named result column).
    Pin it against the raw construct it wraps."""
    from yet_another_map_reduce_spark.operators import udxf

    ld = spark.createDataFrame(
        [(10.0, 0.25), (8.0, 0.0)], "price double, disc double"
    )
    rows = ld.select(
        udxf.discounted_price()("price", "disc").alias("udf_net"),
        (F.col("price") * (1.0 - F.col("disc"))).alias("sql_net"),
    ).collect()
    assert all(abs(r["udf_net"] - r["sql_net"]) < 1e-12 for r in rows)


def test_text_scalar_helpers_hand_values(spark):
    """char_count / mean_word_length pinned on hand-computed values
    (r11 audit: previously zero direct coverage)."""
    from yet_another_map_reduce_spark.operators import text

    df = spark.createDataFrame([("ab cde f",), ("",)], "t string")
    rows = df.select(
        text.char_count("t").alias("n"),
        text.mean_word_length("t").alias("mwl"),
    ).collect()
    assert rows[0]["n"] == 8
    assert rows[0]["mwl"] == 2.0  # (2+3+1)/3
    assert rows[1]["n"] == 0


def test_remove_common_lines_rewrites_docs(spark):
    """C4-style line dedup: a line occurring in >max_doc_freq docs is
    deleted from every doc; short repeats survive; order is preserved;
    a doc losing every line survives with empty text."""
    from yet_another_map_reduce_spark.operators import text

    banner = "accept all cookies to continue"
    rows = [
        (1, f"unique alpha content\n{banner}\nok\nmore alpha"),
        (2, f"{banner}\nunique beta content"),
        (3, f"unique gamma content\n{banner}"),
        (4, banner),  # the all-boilerplate doc
        (5, "ok\nok\nok"),  # short repeats: never boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in text.remove_common_lines(df, max_doc_freq=2).collect()
    }
    assert got[1] == ("unique alpha content\nok\nmore alpha", 4, 1)
    assert got[2] == ("unique beta content", 2, 1)
    assert got[3] == ("unique gamma content", 2, 1)
    assert got[4] == ("", 1, 1)
    assert got[5] == ("ok\nok\nok", 3, 0)


def test_remove_common_lines_respects_doc_freq_threshold(spark):
    """A line in exactly max_doc_freq docs (or repeated many times
    WITHIN one doc) is kept — frequency is distinct-document count."""
    from yet_another_map_reduce_spark.operators import text

    line = "this line repeats within one document"
    rows = [
        (1, f"{line}\n{line}\n{line}"),
        (2, f"other content here\n{line}"),
        (3, "unrelated text entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["n_removed"]
        for r in text.remove_common_lines(df, max_doc_freq=2).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0}


def test_banded_hamming_pairs_shared_helper(spark):
    """The shared candidate/verify pipeline behind simhash text dedup
    and image phash dedup, exercised directly: pigeonhole finds every
    pair within hamming <= bands-1, the last band absorbs the remainder
    when bands doesn't divide bits, and the bucket cap drops degenerate
    buckets."""
    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    base = (1 << 50) - 1  # 50 low bits set inside a 58-bit space
    rows = [
        (1, base),
        (2, base),            # hamming 0
        (3, base ^ (1 << 3)), # hamming 1
        (4, base ^ 0b111),    # hamming 3
        (5, base >> 25),      # far away
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in banded_hamming_pairs(
            df, hash_col="h", id_col="id", bits=58, bands=4, max_hamming=3
        ).collect()
    }
    # 58 bits / 4 bands: width 14, last band = bits [42, 58)
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert got[(1, 4)] == 3
    assert not any(5 in p for p in got)

    # cap: a bucket holding every row is dropped entirely
    capped = banded_hamming_pairs(
        df, hash_col="h", id_col="id", bits=58, bands=4,
        max_hamming=3, max_bucket_size=1,
    )
    assert capped.count() == 0
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_pairs(df, "h", "id", bits=58, bands=2, max_hamming=3)



def test_banded_hamming_single_band_uncapped_matches_capped(spark):
    """bands=1 (exact-duplicate hashes, max_hamming=0): the uncapped
    path has no earlier band to test, so it must build no first-band
    filter (greatest() over a single argument is rejected) and return
    the same pairs as the capped ``.distinct()`` path."""
    from yet_another_map_reduce_spark.operators.dedup import banded_hamming_pairs

    rows = [(1, 7), (2, 7), (3, 7), (4, 9), (5, 9), (6, 12)]
    df = spark.createDataFrame(rows, "id long, h long")

    def pairs(cap):
        return sorted(
            tuple(r)
            for r in banded_hamming_pairs(
                df, hash_col="h", id_col="id", bits=8, bands=1,
                max_hamming=0, max_bucket_size=cap,
            ).collect()
        )

    got = pairs(None)
    assert got == pairs(1000)
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0), (4, 5, 0)]

def test_banded_hamming_capped_buckets_names_the_drops(spark):
    """The exclusion report is exactly the complement of the capped
    pairs call: with cap 1 every >=2 bucket is suppressed, and the
    report lists each with its size and lowest member id; with the cap
    above the biggest bucket the report is empty (nothing silently
    dropped)."""
    from yet_another_map_reduce_spark.operators.dedup import (
        banded_hamming_capped_buckets,
    )

    base = (1 << 50) - 1
    rows = [(1, base), (2, base), (3, base ^ (1 << 3)), (5, base >> 25)]
    df = spark.createDataFrame(rows, "id long, h long")
    report = banded_hamming_capped_buckets(
        df, hash_col="h", id_col="id", bits=58, bands=4, max_bucket_size=1
    ).collect()
    assert report and all(r["n_ids"] >= 2 and r["example_id"] == 1 for r in report)
    # ids 1,2,3 share every band except the one holding bit 3
    assert max(r["n_ids"] for r in report) == 3
    assert (
        banded_hamming_capped_buckets(
            df, hash_col="h", id_col="id", bits=58, bands=4, max_bucket_size=3
        ).count()
        == 0
    )


def test_ivf_topk_tolerates_null_corpus_vectors(spark):
    """A NULL embedding in the corpus must not crash the Arrow worker
    (np.stack over None); it is assigned deterministically with NaN
    cosine and can never outrank a real neighbor."""
    from yet_another_map_reduce_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (4, [0.0, 1.0])],
        "id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "id long, embedding array<double>"
    )
    got = similarity.ivf_topk(
        corpus, queries, "id", "embedding", k=2, nlist=2, nprobe=2
    ).collect()
    assert [r["neighbor_id"] for r in got] == [1, 2]  # real rows win


def test_lsh_bucket_rejects_dim_mismatch(spark):
    """A vector length differing from dim must raise, not silently
    hash every row to bucket 0 (which degenerates the LSH join into an
    unpruned cross join with plausible-looking output)."""
    import pytest

    from yet_another_map_reduce_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="lsh_bucket"):
        similarity.lsh_bucket(df, "embedding", num_planes=4, dim=8).collect()
    ok = similarity.lsh_bucket(df, "embedding", num_planes=4, dim=4).collect()
    assert ok[0]["bucket"] is not None


def test_lsh_bucket_tolerates_null_vectors(spark):
    """A NULL embedding must not fail the whole job (quarantine
    discipline, matching build_ivfpq_index's vec IS NOT NULL filter)
    and must not land in bucket 0: it gets a NULL bucket, which an
    equi-join on bucket drops naturally."""
    from yet_another_map_reduce_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, None)],
        "id long, embedding array<double>",
    )
    rows = {
        r["id"]: r["bucket"]
        for r in similarity.lsh_bucket(df, "embedding", num_planes=4, dim=4).collect()
    }
    assert rows[1] is not None
    assert rows[2] is None


def test_build_ivfpq_index_refuses_to_clobber_concurrent_commit(spark, tmp_path):
    """build's CURRENT swap goes through the same locked OCC
    check-and-swap as appends: if another writer advances CURRENT while
    the build runs, the build raises instead of silently orphaning the
    other writer's committed version (and its consumed-token record)."""
    import os

    import pytest

    from yet_another_map_reduce_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "id long, embedding array<double>",
    )
    index_dir = str(tmp_path / "occ_idx")
    books = similarity.train_pq_codebooks(corpus, "id", "embedding", m=2, k=2)
    similarity.build_ivfpq_index_auto(
        corpus, "id", "embedding", index_dir, books=books
    )

    orig = similarity._nearest_centroids

    def advance_then_delegate(*a, **k):
        cur = os.path.join(index_dir, "CURRENT")
        if os.path.exists(cur):  # simulate a concurrent commit mid-build
            with open(cur, "w", encoding="utf-8") as fh:
                fh.write("v_concurrent")
        return orig(*a, **k)

    similarity._nearest_centroids = advance_then_delegate
    try:
        with pytest.raises(similarity.IndexConflictError, match="rebuild"):
            similarity.build_ivfpq_index_auto(
                corpus, "id", "embedding", index_dir, books=books
            )
    finally:
        similarity._nearest_centroids = orig
    # the concurrent committer's pointer survived the losing rebuild
    assert open(os.path.join(index_dir, "CURRENT")).read() == "v_concurrent"


def test_text_review_fixes_short_empty_and_case_inputs(spark):
    """Round-14 text-family review fixes, each pinned at the boundary
    the fixture corpus never exercises: short docs keep=true in
    repetition_stats (was NULL -> silently dropped by .where);
    empty/whitespace docs are ABSENT from hash embeddings (was a
    spurious shared unit vector); bm25 query terms normalize like
    corpus tokens (uppercase matched nothing); duplicate vocab rows
    don't inflate oov denominators; gapped chunking strides raise."""
    import pytest

    from yet_another_map_reduce_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "hello"), (2, "the the the the the the"), (3, "   "), (4, "")],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r["keep"] for r in text.repetition_stats(docs).collect()}
    assert rep[1] is True  # 1 token: no n-grams, no repetition
    assert rep[2] is False  # maximal repetition still drops

    emb = text.hash_embed_dense(docs, "text", "doc_id", dim=4).collect()
    assert sorted(r["doc_id"] for r in emb) == [1, 2]  # 3 and 4 absent

    hits = text.bm25_search(docs, "text", "doc_id", ["The", " THE "], top=5)
    assert [r["doc_id"] for r in hits.collect()] == [2]
    with pytest.raises(ValueError, match="query_terms"):
        text.bm25_search(docs, "text", "doc_id", ["", "   "])

    vocab_dup = spark.createDataFrame(
        [("the",), ("the",)], "token string"
    )
    oov = {
        r["doc_id"]: (r["n_tokens"], r["oov_rate"])
        for r in text.oov_stats(docs, "text", "doc_id", vocab_dup).collect()
    }
    assert oov[2][0] == 6  # duplicate vocab row must not double-count

    with pytest.raises(ValueError, match="stride"):
        text.chunk_documents(docs, "text", "doc_id", chunk_tokens=2, stride=3)


def test_curation_reports_surface_short_docs_with_zero_rows(spark):
    """decontaminate / boilerplate_ngram_stats / bigram_lm_score must
    emit zero-count rows for docs shorter than the gram width — a
    silent omission means a downstream keep-join drops the doc from
    the corpus entirely (r14 deferred finding, fixed r15)."""
    from yet_another_map_reduce_spark.operators import text

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "tiny"),           # 1 token: no 4/5-gram, no bigram
            (3, ""),               # empty: tokens('') == ['']
            (10, "alpha beta gamma delta epsilon zeta"),  # holdout twin
        ],
        "doc_id long, text string",
    )

    dec = {
        r["doc_id"]: r
        for r in text.decontaminate(
            d.where("doc_id % 10 != 0"), d.where("doc_id % 10 = 0"), n=4
        ).collect()
    }
    assert set(dec) == {1, 2, 3}
    assert dec[1]["is_contaminated"]
    for short in (2, 3):
        row = dec[short]
        assert row["total_ngrams"] == 0 and row["matched_ngrams"] == 0
        assert row["contamination"] == 0.0 and row["is_contaminated"] is False

    bp = {
        r["doc_id"]: r
        for r in text.boilerplate_ngram_stats(d, n=5, max_doc_freq=2).collect()
    }
    assert set(bp) == {1, 2, 3, 10}
    for short in (2, 3):
        assert bp[short]["total_ngrams"] == 0
        assert bp[short]["keep"] is True

    lm = {
        r["doc_id"]: r for r in text.bigram_lm_score(d, "text", "doc_id").collect()
    }
    assert set(lm) == {1, 2, 3, 10}
    for short in (2, 3):
        row = lm[short]
        assert row["n_bigrams"] == 0
        assert row["avg_logprob"] is None and row["lm_bucket"] is None
    assert lm[1]["lm_bucket"] in ("head", "middle", "tail")


def test_first_fit_tree_matches_naive_linear_scan():
    """The O(log B) tournament tree must reproduce the naive linear
    first-fit scan BIT-FOR-BIT (lowest-id bin that fits, every time) —
    it is a data-structure swap, not a semantics change."""
    import random

    from yet_another_map_reduce_spark.operators.text import _FirstFitTree

    rng = random.Random(7)
    for trial in range(20):
        budget = rng.choice([64, 100, 1000])
        docs = [rng.randint(0, int(budget * 1.3)) for _ in range(300)]
        naive_bins: list[int] = []  # remaining per bin
        naive_assign = []
        for n in docs:
            placed = None
            for i, rem in enumerate(naive_bins):
                if n <= rem:
                    naive_bins[i] = rem - n
                    placed = i
                    break
            if placed is None:
                placed = len(naive_bins)
                naive_bins.append(max(0, budget - n))
            naive_assign.append(placed)

        tree = _FirstFitTree()
        tree_assign = []
        for n in docs:
            placed = tree.take_first_fit(n)
            if placed is None:
                placed = tree.n
                tree.append(max(0, budget - n))
            tree_assign.append(placed)
        assert tree_assign == naive_assign, f"trial {trial} diverged"


def test_chunk_dedup_surfaces_null_text_docs(spark):
    """NULL text behaves as the empty string: the doc STAYS in the
    output (one '' chunk) instead of vanishing through posexplode —
    the 'one row per input document' contract (r15 review finding)."""
    from yet_another_map_reduce_spark.operators import dedup

    d = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.chunk_dedup(d, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_chunks"] == 1  # NULL ≡ '' : one empty chunk
    # first-occurrence of the '' chunk goes to the lower doc id
    assert rows[2]["n_kept"] + rows[3]["n_kept"] == 1


def test_connected_components_raise_instead_of_wrong_labels(spark):
    """Exhausting max_iterations before the fixpoint raises (no-silent-
    caps): partially-propagated labels split real components."""
    import pytest

    from yet_another_map_reduce_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iterations=2)
    ok = dedup.connected_components(chain, max_iterations=25).collect()
    assert {r["component"] for r in ok} == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_star(chain, max_iterations=1)


def test_connected_components_convergence_probe_rides_on_checkpoint(spark):
    """Each round's convergence probe is an ``Observation`` on the
    round's checkpoint job, not a job of its own.  On the chain
    1-2-3-4-5 (local[4], AQE on) propagation launches 40 jobs and the
    star contraction 34; with count() probes after each round's
    checkpoint they launched 50 and 46."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], "src long, dst long")
    want = {(i, 1) for i in range(1, 6)}
    for variant, jobs in (
        (dedup.connected_components, 40),
        (dedup.connected_components_star, 34),
    ):
        out, n = _jobs_launched(spark, f"cc_{variant.__name__}", lambda: variant(chain))
        assert (variant.__name__, n) == (variant.__name__, jobs)
        assert {(r["id"], r["component"]) for r in out.collect()} == want


def test_connected_components_of_no_edges_is_empty(spark):
    """An empty edge list converges in one round to no labels: the
    observed probes of an empty checkpoint still deliver (0 changed
    labels, 0 edges), with no probe job of their own: 2 jobs per
    variant, where count() probes made it 3 (propagation) and 4 (star
    contraction)."""
    empty = spark.createDataFrame([], "src long, dst long")
    for variant, jobs in (
        (dedup.connected_components, 2),
        (dedup.connected_components_star, 2),
    ):
        out, n = _jobs_launched(spark, f"cc0_{variant.__name__}", lambda: variant(empty))
        assert (variant.__name__, n) == (variant.__name__, jobs)
        assert out.collect() == []


def test_embedding_near_dup_gram_matches_exact_on_nulls(spark):
    """The gram fast path's NULL contract matches the equi-join
    variant: NULL vectors and NULL block keys contribute no pairs
    (previously: np.stack crash / NULL-block pseudo-block pairs)."""
    from yet_another_map_reduce_spark.operators import dedup

    rows = [
        (1, [1.0, 0.0], "blk"),
        (2, [1.0, 0.0], "blk"),
        (3, None, "blk"),          # NULL vector: crashed np.stack before
        (4, [1.0, 0.0], None),     # NULL block: pseudo-block pairs before
        (5, [1.0, 0.0], None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, vec array<double>, blk string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(df, "doc_id", "vec", "blk").collect()
    }
    gram = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_gram(
            df, "doc_id", "vec", "blk"
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_lsh(
            df, "doc_id", "vec", "blk", dim=2
        ).collect()
    }
    assert exact == gram == lsh == {(1, 2)}


def test_minhash_signatures_excludes_null_shingle_markers(spark):
    """Short docs (under k tokens, '' and NULL text) must not get empty
    or all-NULL signatures (whose band keys collide universally through
    concat_ws NULL-skipping): they are excluded, as the docstring
    promises."""
    from yet_another_map_reduce_spark.operators import dedup

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, ""), (4, None)], "doc_id long, text string"
    )
    sig = dedup.minhash_signatures(d, "text", "doc_id").collect()
    ids = {r["doc_id"] for r in sig}
    assert ids == {1}  # short docs excluded, not all-NULL-signatured
    assert all(v is not None for r in sig for v in r["signature"])


def test_grouped_ranked_tiers_agree_on_null_group_keys(spark):
    """grouped_ranked's broadcast join-back is null-safe: NULL-keyed
    rows rank as their own group in BOTH tiers (the big tier silently
    dropped them before — entire groups vanishing with input size)."""
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.operators import sorts

    rows = [(i, None if i % 2 else "g") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp string")
    small = sorts.grouped_ranked_adaptive(
        df, ["grp"], [F.col("id").asc()], group_total_col="n_grp", n=20
    )
    big = sorts.grouped_ranked_adaptive(
        df, ["grp"], [F.col("id").asc()], group_total_col="n_grp",
        n=20, single_task_threshold=1,
    )
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    s = sorted(((r["grp"], r["id"], r["rank"], r["n_grp"]) for r in small.collect()), key=key)
    b = sorted(((r["grp"], r["id"], r["rank"], r["n_grp"]) for r in big.collect()), key=key)
    assert s == b
    assert sum(1 for g, *_ in s if g is None) == 10


def test_rollup_distinguishes_null_keys_from_subtotals(spark):
    """GROUPING-based fill: a genuine NULL key group keeps its NULL,
    only subtotal levels read '(all)' — a blind coalesce merged both
    into the same label (r15 review finding)."""
    from pyspark.sql import functions as F

    from yet_another_map_reduce_spark.operators import aggregates

    df = spark.createDataFrame(
        [("a", 1), (None, 2), (None, 3)], "k string, v int"
    )
    out = {
        (r["k"],): r["n"]
        for r in aggregates.rollup_agg(
            df, ["k"], [F.count(F.lit(1)).alias("n")]
        ).collect()
    }
    assert out[("a",)] == 1
    assert out[(None,)] == 2      # the real NULL-key group, kept as NULL
    assert out[("(all)",)] == 3   # the grand total, unambiguous


def test_percentiles_labels_round_and_reject_collisions(spark):
    import pytest

    from yet_another_map_reduce_spark.operators import aggregates

    df = spark.createDataFrame([(1, float(i)) for i in range(100)], "k int, v double")
    out = aggregates.percentiles(df, ["k"], "v", [0.29, 0.95])
    assert "p29" in out.columns and "p95" in out.columns  # int() gave p28/p94
    with pytest.raises(ValueError, match="collide"):
        aggregates.percentiles(df, ["k"], "v", [0.001, 0.002])


def test_frequent_items_tolerates_column_named_item(spark):
    """The heavy-hitters operator namespaces its candidate column, so an
    input column named ``item`` neither clashes nor goes ambiguous."""
    from yet_another_map_reduce_spark.operators import aggregates

    df = spark.createDataFrame(
        [("x",)] * 5 + [("y",)] * 2, "item string"
    )
    hh = aggregates.heavy_hitters_exact(df, "item", k=2).collect()
    assert [r["item"] for r in hh] == ["x"]


def test_histogram_fixed_validates_and_skips_nulls(spark):
    import pytest

    from yet_another_map_reduce_spark.operators import aggregates

    df = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    with pytest.raises(ValueError, match="nbuckets"):
        aggregates.histogram_fixed(df, "x", 0.0, 10.0, 0)
    with pytest.raises(ValueError, match="hi > lo"):
        aggregates.histogram_fixed(df, "x", 5.0, 5.0, 4)
    rows = aggregates.histogram_fixed(df, "x", 0.0, 10.0, 5).collect()
    assert all(r["bucket"] is not None for r in rows)
    assert sum(r["n"] for r in rows) == 2  # NULL excluded, not a bucket


def test_profile_columns_handles_odd_names(spark):
    from yet_another_map_reduce_spark.operators import aggregates

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], ["the id", "odd-name"]
    )
    exact = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in aggregates.profile_columns(df, ["the id", "odd-name"]).collect()
    }
    assert exact["the id"] == (3, 0, 2)
    assert exact["odd-name"] == (3, 1, 2)


def _ref_tokens(text: str | None) -> list[str] | None:
    """Pure-Python ``functions.tokens``: lowercase, collapse runs of
    Java-regex ``\\s`` (ASCII whitespace) to one space, trim, split."""
    import re

    if text is None:
        return None
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ").split(" ")


def _ref_grams(text: str | None, k: int) -> list[str]:
    toks = _ref_tokens(text) or []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _ref_chunk_dedup(rows, k: int) -> dict:
    """Pure-Python ``dedup.chunk_dedup``: id → (n_chunks, n_kept,
    dedup_text); NULL text is ''; the first (id, chunk_idx) wins."""
    chunks = {}
    for d, t in rows:
        toks = _ref_tokens(t or "")
        chunks[d] = [" ".join(toks[i : i + k]) for i in range(0, len(toks), k)]
    first: dict = {}
    for d in sorted(chunks):
        for i, c in enumerate(chunks[d]):
            first.setdefault(c, (d, i))
    out = {}
    for d, cs in chunks.items():
        kept = [c for i, c in enumerate(cs) if first[c] == (d, i)]
        out[d] = (len(cs), len(kept), " ".join(kept))
    return out


def test_gram_kernels_match_expression_path(spark):
    """Every per-document gram path equals a pure-Python reference:
    the gram_hash_rows counts kernel, decontaminate's built-in distinct
    md5 keys (with and without empty-doc markers), the built-in
    shingle_sets, chunk_dedup's chunking and the minhash kernel's
    affine md5 minima.  Same UTF-8 gram bytes, same md5.  Covers NULL
    text, '', short docs, a doc of exactly k tokens, tabs and runs of
    spaces, unicode and repeated grams."""
    import hashlib
    from collections import Counter

    from yet_another_map_reduce_spark.operators import text

    rows = [
        (1, "the cat sat on the mat the cat sat"),
        (2, "the  CAT   sat"),  # normalization collapses whitespace
        (3, "too short"),
        (4, None),
        (5, ""),
        (6, "tab\tseparated\t\twords  and   runs of  spaces"),
        (7, "ÄÖ ü 漢字 ÄÖ ü 漢字 ÄÖ"),
        (8, "exactly three tokens"),
        (9, "a b c a b c a b c"),  # repeated grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {d: _ref_grams(t, 3) for d, t in rows}

    def md5(g: str) -> str:
        return hashlib.md5(g.encode("utf-8")).hexdigest()

    # gram_hash_rows: (id, md5, multiplicity); one (id, NULL, 0) marker
    # per doc without a complete gram
    want = Counter()
    for d, gs in ref.items():
        if not gs:
            want[(d, None, 0)] += 1
        for g, c in Counter(gs).items():
            want[(d, md5(g), c)] += 1
    got = Counter(
        (r["doc_id"], r["g"], r["c"])
        for r in dedup.gram_hash_rows(df, "text", "doc_id", 3).collect()
    )
    assert got == want

    # decontaminate's distinct md5 keys, with one (id, NULL) marker per
    # gram-less doc; without the markers they are the holdout side's keys
    keys = text._gram_keys(df, "text", "doc_id", 3)
    assert Counter((r["doc_id"], r["g"]) for r in keys.collect()) == Counter(
        (d, g) for d, g, _ in want
    )
    assert Counter(
        (r["doc_id"], r["g"]) for r in keys.where(F.col("g").isNotNull()).collect()
    ) == Counter((d, g) for d, g, _ in want if g is not None)

    # shingle_sets: distinct shingle strings, [] for short docs, NULL text NULL
    got_sets = {
        r["doc_id"]: r["__set"]
        for r in dedup.shingle_sets(df, "text", "doc_id", 3).collect()
    }
    assert got_sets.keys() == ref.keys()
    assert got_sets.pop(4) is None
    assert all(len(s) == len(set(s)) for s in got_sets.values())
    assert {d: set(s) for d, s in got_sets.items()} == {
        d: set(ref[d]) for d in got_sets
    }

    # chunk_dedup: chunking, first occurrence and reassembly
    for k in (2, 3):
        got_chunks = {
            r["doc_id"]: (r["n_chunks"], r["n_kept"], r["dedup_text"])
            for r in dedup.chunk_dedup(df, "text", "doc_id", chunk_tokens=k).collect()
        }
        assert got_chunks == _ref_chunk_dedup(rows, k)

    # minhash kernel: per seed i, the min over grams of h_a + i*h_b, with
    # h_a / h_b the first 15 / next 8 hex digits of the gram's md5
    def ref_signature(grams: list[str]) -> list[int]:
        hs = [(int(md5(g)[:15], 16), int(md5(g)[15:23], 16)) for g in grams]
        return [min(ha + i * hb for ha, hb in hs) for i in range(12)]

    sig_kernel = {
        r["doc_id"]: list(r["signature"])
        for r in dedup.minhash_signatures(df, "text", "doc_id", 12, 3).collect()
    }
    assert sig_kernel == {d: ref_signature(gs) for d, gs in ref.items() if gs}


def test_percentile_exact_dist_bit_identical(spark):
    """percentile_exact_dist must reproduce F.percentile BIT-identically
    (same order statistics, same (hi-pos)*v_lo + (pos-lo)*v_hi IEEE
    interpolation) — it replaces the single-reducer value-map merge in
    agg_median / agg_percentiles_approx, so any drift here is an oracle
    hash break.  Adversarial data: duplicates, negatives, 1-row and
    even/odd group sizes, and p=0/1 edge probs."""
    import random
    import struct

    from yet_another_map_reduce_spark.operators.aggregates import (
        percentile_exact_dist,
    )

    random.seed(7)
    rows = []
    for g, nvals in (("a", 1), ("b", 2), ("c", 7), ("d", 100), ("e", 501)):
        pool = [round(random.uniform(-500, 500), 2) for _ in range(max(3, nvals // 3))]
        for _ in range(nvals):
            rows.append(
                (
                    g,
                    random.choice(pool)
                    if random.random() < 0.5
                    else random.uniform(-1e4, 1e4),
                )
            )
    df = spark.createDataFrame(rows, "g string, x double")
    probs = [0.0, 0.01, 0.25, 0.5, 0.731, 0.99, 1.0]
    arr = ",".join(map(str, probs))
    ref = {
        r[0]: r[1]
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(x, array({arr}))"))
        .collect()
    }
    got = {
        r[0]: r[1] for r in percentile_exact_dist(df, "g", "x", probs).collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        assert len(got[k]) == len(probs)
        for i, (a, b) in enumerate(zip(ref[k], got[k])):
            assert struct.pack("d", a) == struct.pack("d", b), (k, probs[i], a, b)


def test_local_relation_matches_plain_createdataframe(spark):
    """local_relation must be a drop-in for createDataFrame: identical
    schema and values (doubles bit-exact) on the model/grid shapes the
    operators build, a LocalTableScan plan on the Arrow path, and a
    silent fallback for rows Arrow can't transpose."""
    import struct

    from yet_another_map_reduce_spark.localrel import local_relation

    cases = [
        ([(1, [0.1, -2.5e300]), (2, None), (None, [])],
         "vec_id long, embedding array<double>"),
        ([("a",), ("b",)], "tier string"),
        ([(0.5,), (0.9,)], "threshold double"),
        ([], "fp string"),
        ([(1, 2, 3.5, "x", True)], "a int, b long, c double, d string, e boolean"),
    ]
    for rows, ddl in cases:
        a = spark.createDataFrame(rows, ddl)
        b = local_relation(spark, rows, ddl)
        assert a.schema == b.schema, ddl
        ra, rb = a.collect(), b.collect()
        assert len(ra) == len(rb)
        for x, y in zip(ra, rb):
            for u, v in zip(x, y):
                if isinstance(u, float):
                    assert struct.pack("d", u) == struct.pack("d", v)
                elif isinstance(u, list):
                    assert [
                        struct.pack("d", i) if isinstance(i, float) else i
                        for i in u
                    ] == [
                        struct.pack("d", i) if isinstance(i, float) else i
                        for i in v
                    ]
                else:
                    assert u == v, (ddl, x, y)
    # Arrow path plans as a JVM LocalTableScan (no Python workers)
    plan = local_relation(
        spark, [(1, [1.0])], "vec_id long, embedding array<double>"
    )._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    # dict rows (keys would transpose) take the classic path unharmed
    d = local_relation(spark, [{"k": "v1"}, {"k": "v2"}], "k string")
    assert sorted(r["k"] for r in d.collect()) == ["v1", "v2"]



def test_local_relation_propagates_non_conversion_errors(spark, monkeypatch):
    """Only Arrow CONVERSION failures take the pickled fallback; any
    other error on the Arrow path is a defect and must surface instead
    of being hidden behind a silently slower plan."""
    import pyarrow as pa
    import pytest

    from yet_another_map_reduce_spark.localrel import local_relation

    class BrokenTable:
        @staticmethod
        def from_arrays(*args, **kwargs):
            raise RuntimeError("arrow path defect")

    monkeypatch.setattr(pa, "Table", BrokenTable)
    with pytest.raises(RuntimeError, match="arrow path defect"):
        local_relation(spark, [(1,)], "a long")

def test_dlit_non_finite_literals(spark):
    """r15 ADVICE: repr-based double literals produced 'nanD'/'infD'
    which do not parse — a NaN/Inf model component must build a valid
    literal with F.lit-identical semantics, not raise at construction."""
    import math

    from yet_another_map_reduce_spark.operators.similarity import (
        _dlit,
        _sq_l2_sql,
    )

    df = spark.range(1)
    for v in [float("nan"), float("inf"), float("-inf"), 1.5, -2.5e-300, 0.0]:
        got = df.select(F.expr(_dlit(v)).alias("x")).collect()[0]["x"]
        want = df.select(F.lit(v).alias("x")).collect()[0]["x"]
        assert (math.isnan(got) and math.isnan(want)) or got == want, v
    # a NaN centroid component constructs (no AnalysisException) and
    # propagates NaN through the L2 fold like the old Column form
    expr = _sq_l2_sql("array(1.0D, 2.0D)", [float("nan"), 0.5])
    assert math.isnan(df.select(F.expr(expr).alias("d")).collect()[0]["d"])


def test_remove_common_lines_fallback_matches_fast_path(spark):
    """The size-guarded anti-join fallback (broadcast_key_limit
    exceeded) must be row-for-row identical to the broadcast-array fast
    path — including docs that lose every line, short-line exemptions,
    duplicate kept lines, and custom join separators (r16, closing the
    r15 ADVICE on remove_common_lines scalability)."""
    from yet_another_map_reduce_spark.operators import text

    rows = [
        (1, "shared boilerplate line\nunique alpha text here\nshort"),
        (2, "shared boilerplate line\nunique beta text here\nshort"),
        (3, "shared boilerplate line\nanother repeat line ok\nzz"),
        (4, "another repeat line ok\nshared boilerplate line"),
        (5, "shared boilerplate line"),
        (6, None),
        (7, "unique gamma text here\nunique gamma text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in ({}, {"join_sep": " | "}, {"max_doc_freq": 3}):
        fast = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in text.remove_common_lines(
                df, broadcast_key_limit=10**6, **kwargs
            ).collect()
        }
        slow = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in text.remove_common_lines(
                df, broadcast_key_limit=0, **kwargs
            ).collect()
        }
        assert fast == slow, kwargs
    # the guard-off form (None) also agrees
    off = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in text.remove_common_lines(
            df, broadcast_key_limit=None
        ).collect()
    }
    assert off == {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in text.remove_common_lines(df).collect()
    }


def test_vectorized_text_kernels_match_dict_fold(spark):
    """r16: the vectorized (factorize + np.unique) kernel bodies of
    repetition_stats and bigram_lm_score must emit exactly the rows the
    per-token dict folds emitted — counts, marker rows, NULL-text
    skips, sub-n-gram docs, repeats, and whitespace-normalized text."""
    from yet_another_map_reduce_spark.operators import text

    rows = [
        (1, "a b a b a b a b c"),
        (2, "x"),
        (3, None),
        (4, ""),
        (5, "one two three four five one two three"),
        (6, "z z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # dict-fold reference for repetition counts (the pre-r16 kernel)
    from yet_another_map_reduce_spark.functions import tokens as tok_expr

    toks = {
        r["doc_id"]: list(r["t"]) if r["t"] is not None else None
        for r in df.select("doc_id", tok_expr("text").alias("t")).collect()
    }

    def per_n(ts, n):
        c = {}
        for i in range(len(ts) - n + 1):
            g = " ".join(ts[i : i + n])
            c[g] = c.get(g, 0) + 1
        if not c:
            return 0, 0, 0
        v = c.values()
        return max(v), sum(v), sum(x for x in v if x > 1)

    got = {
        r["doc_id"]: r
        for r in text.repetition_stats(df, "doc_id", "text").collect()
    }
    for did, ts in toks.items():
        if ts is None:
            assert did not in got
            continue
        m2, t2, _ = per_n(ts, 2)
        m3, t3, d3 = per_n(ts, 3)
        r = got[did]
        want_b = round(m2 / max(t2, 1), 6) if t2 > 0 else None
        want_d = round(d3 / max(t3, 1), 6) if t3 > 0 else None
        assert r["top_bigram_frac"] == want_b, (did, r)
        assert r["dup_trigram_frac"] == want_d, (did, r)

    # bigram_lm_score against a full Python reference: corpus counts,
    # vocabulary, and per-doc add-k log-prob must match to the 6-digit
    # rounding the kernel relation feeds
    import math

    got_lm = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in text.bigram_lm_score(df, "text", "doc_id").collect()
    }
    corpus = {d: ts for d, ts in toks.items() if ts is not None}
    cb, cp, vocab = {}, {}, set()
    for ts in corpus.values():
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
            cp[a] = cp.get(a, 0) + 1
    V, k = len(vocab), 0.5
    for did, ts in corpus.items():
        pairs = list(zip(ts, ts[1:]))
        n, lm = got_lm[did]
        assert n == len(pairs), (did, n)
        if not pairs:
            assert lm is None
            continue
        ref = sum(
            math.log((cb[p] + k) / (cp[p[0]] + k * V)) for p in pairs
        ) / len(pairs)
        assert abs(lm - round(ref, 6)) < 1e-9, (did, lm, ref)
