"""Similarity search over embedding columns (``array<float>``).

North-star extension (no analog in the reference).  The tiers:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query side must be small (it is broadcast); corpus side streams.
  Cost O(|Q|·|C|·d) but perfectly parallel, no shuffle of the corpus.
- ``lsh_bucket`` + ``lsh_topk``: random-hyperplane LSH — candidate
  pruning by bucket equi-join.
- ``ivf_topk`` (+ ``train_ivf_centroids``): inverted-file cells, probe
  ``nprobe``/``nlist`` of the corpus (file-level pruning when the index
  is persisted partitioned by cell).
- ``quantize_embeddings`` + ``quantized_topk``: int8 scalar
  quantization — 4× smaller scans, exact-integer scoring.
- ``train_pq_codebooks`` + ``pq_encode`` + ``pq_topk``: product
  quantization with ADC ranking — bytes per vector, the FAISS IVF-PQ
  shape (compose with IVF cells for the full IVF-PQ index).

Hyperplanes/codebooks are derived deterministically (md5 planes; Lloyd's
with 6-rounded fixpoints), so every tier is reproducible run-to-run and
replayable by an external SQL engine for verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.functions import cosine_similarity
from yet_another_map_reduce_spark.localrel import local_relation
from yet_another_map_reduce_spark.operators.quantize import round_half_up


def _dcast(vec_col: str) -> Column:
    """``transform(vec, x -> cast(x as double))`` parsed as ONE SQL
    string: the Column-API higher-order-function builder costs ~9 ms of
    py4j round trips PER CALL (measured, r16) and the eager ANN
    constructors build it up to a dozen times per plan.  Identical
    expression semantics — same cast on every element."""
    return F.expr(f"transform(`{vec_col}`, x -> cast(x as double))")


def collect_query_matrix(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
) -> list:
    """ONE collect of the query side in the shape every eager tier
    consumes (``query_id``, double-cast ``__qv``).  Multi-tier callers
    (``ann_recall_report`` runs the exact baseline AND the int8 tier
    over the same queries) pass the result to each tier's ``qrows=``
    so the query subtree executes once instead of once per tier —
    each extra collect is a full Spark job (~0.2 s at sf0.1, a full
    query-side scan at scale)."""
    query_id_col = query_id_col or id_col
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        _dcast(vec_col).alias("__qv"),
    ).collect()


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 10,
    qrows: list | None = None,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector (cosine).

    The scale-correct brute-force shape: the (small, by contract) query
    matrix ships in the task closure; each Arrow batch of the corpus is
    ONE numpy matmul against it, and only each batch's per-query top-k
    candidates leave the scan — the final exchange carries
    ``k x |Q| x #batches`` candidate rows, never the ``|Q| x |C|``
    scored cross product (which the previous crossJoin+window form
    shuffled in full).  The global top-k over candidates is exact
    because per-batch selection is monotone: every global winner is a
    winner within its own batch.

    Semantics unchanged from the oracle contract: cosine quantized to
    6 digits BEFORE ranking (half-up, what licenses BLAS accumulation
    order — last-ulp drift is invisible after rounding), ties to the
    lower neighbor id, zero-norm and NULL vectors rank last (NULL
    cosine, the try_divide convention), self-matches excluded.

    EAGER at construction: the query side is ``collect()``-ed (and the
    schema introspected) when this function is CALLED, not when the
    returned DataFrame first executes — composing the plan runs Spark
    jobs, unlike a fully-lazy crossJoin form.  That is the price of
    shipping the query matrix in the task closure; callers building
    plans speculatively should defer the call instead.
    """
    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    if qrows is None:
        qrows = collect_query_matrix(queries, id_col, vec_col, query_id_col)
    if not qrows:  # no queries -> empty result, schema intact
        return local_relation(
            corpus.sparkSession,
            [],
            f"query_id {queries.schema[query_id_col].dataType.simpleString()}, "
            f"neighbor_id {corpus.schema[id_col].dataType.simpleString()}, "
            "cos double, rank int",
        )
    qids = np.array([r["query_id"] for r in qrows])
    # NULL query vectors join the zero-norm convention (all-NULL
    # cosines, rank last) instead of blowing up np.stack on a None
    q_valid = [i for i, r in enumerate(qrows) if r["__qv"] is not None]
    if q_valid:
        qdim = len(qrows[q_valid[0]]["__qv"])
        Q = np.zeros((len(qrows), qdim))
        for i in q_valid:
            Q[i] = np.asarray(qrows[i]["__qv"], dtype=np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        qn[qn == 0.0] = np.nan
        qn[[i for i in range(len(qrows)) if i not in set(q_valid)]] = np.nan
    else:  # every query vector NULL: no matmul possible, all-NaN scores
        Q, qn = None, None

    cv = _dcast(vec_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), cv.alias("__cv"))

    def _scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            # NULL corpus vectors → NaN cosine row (rank-last), same
            # convention as zero-norm; zeros placeholder keeps the
            # matmul shape without a ragged np.stack failure
            vecs = list(pdf["__cv"])
            v_null = np.array([x is None for x in vecs])
            dim = Q.shape[1] if Q is not None else next(
                (len(x) for x in vecs if x is not None), 1
            )
            V = np.stack(
                [
                    np.zeros(dim)
                    if x is None
                    else np.asarray(x, dtype=np.float64)
                    for x in vecs
                ]
            )
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            vn[vn == 0.0] = np.nan
            vn[v_null] = np.nan
            if Q is None:
                S = np.full((len(ids), len(qids)), np.nan)
            else:
                with np.errstate(invalid="ignore"):
                    S = round_half_up((V @ Q.T) / np.outer(vn, qn), 6)
            out_q, out_n, out_c = [], [], []
            # |Q| is small by contract: per-query candidate selection
            # loops over queries, vectorized over the batch
            key = np.where(np.isnan(S), np.inf, -S)
            for j in range(len(qids)):
                keep = ids != qids[j]  # self-match excluded
                order = np.lexsort((ids[keep], key[keep, j]))[:k]
                sel = np.flatnonzero(keep)[order]
                out_q.extend([qids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_c.extend(S[sel, j])
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    # nan -> None explicitly: a Spark NaN double sorts
                    # ABOVE every real value in DESC order, which would
                    # invert the NULLS-LAST contract downstream
                    "cos": pd.Series(
                        [None if np.isnan(x) else float(x) for x in out_c],
                        dtype=object,
                    ),
                }
            )

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    cand = c.mapInPandas(
        _scan, f"query_id {qid_t}, neighbor_id {nid_t}, cos double"
    )
    # k x |Q| x #batches candidate rows only — the exchange is bounded
    # by parallelism, not corpus size
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes.

    Component j of plane i = (md5(f"{i}:{j}") first-8-hex as int,
    centered to ±) — good enough for sign-LSH, fully reproducible in any
    engine with md5.
    """
    import hashlib

    comps = []
    for j in range(dim):
        h = hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()
        v = int(h[:8], 16) / float(0xFFFFFFFF) - 0.5
        comps.append(v)
    return comps


def lsh_bucket(df: DataFrame, vec_col: str, num_planes: int = 8, dim: int = 64) -> DataFrame:
    """Add a ``bucket`` column: sign-bit signature over ``num_planes``
    fixed random hyperplanes (2^num_planes possible buckets).

    Pure expressions: each sign bit is a dot product against a literal
    array — broadcast as part of the plan, vectorized by codegen.

    ``dim`` must match the vector length and is ENFORCED per row: with
    a mismatch, ``zip_with`` pads with NULLs, every dot product goes
    NULL, and every bit silently falls to 0 — all rows collapse into
    bucket 0 and the LSH join degenerates into an unpruned cross join
    with plausible-looking results.  Fail loudly instead.

    NULL vectors are tolerated, matching the quarantine discipline of
    the index builders (``build_ivfpq_index`` filters ``vec IS NOT
    NULL``): they get a NULL ``bucket``, which an equi-join on
    ``bucket`` drops naturally — one bad row must not fail the job,
    and it must not land in bucket 0 either.
    """
    out = df
    bit_cols = []
    for i in range(num_planes):
        plane = _hyperplane(dim, i)
        # ONE SQL string per plane (r15, same rationale as
        # _pq_codes_expr): the Column form made a py4j call per
        # component — num_planes × dim round trips per construction
        arr = ",".join(_dlit(v) for v in plane)
        dot_i = F.expr(
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(a, b) -> cast(a as double) * b), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        )
        bit_cols.append(F.when(dot_i >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    dim_ok = F.assert_true(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) == dim),
        F.concat_ws(
            " ",
            F.lit(f"lsh_bucket: vector length != dim={dim}:"),
            F.coalesce(F.size(F.col(vec_col)).cast("string"), F.lit("NULL")),
        ),
    )
    return out.withColumn(
        "bucket",
        F.when(
            dim_ok.isNull() & F.col(vec_col).isNotNull(),
            sum(bit_cols[1:], bit_cols[0]),
        ),
    )


def ivf_centroids(corpus: DataFrame, id_col: str, vec_col: str, nlist: int) -> DataFrame:
    """Deterministic seed centroids: the ``nlist`` lowest-id corpus
    vectors.

    At production scale this is the pluggable training step (k-means over
    a sample); seeding by id keeps results reproducible and engine-
    independent for the correctness gate.  The centroid set is tiny
    (``nlist`` rows) and always broadcast.
    """
    cv = _dcast(vec_col)
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(F.col(id_col).alias("centroid_id"), cv.alias("__centv"))
    )


def _nearest_centroids_expr(
    df: DataFrame, id_out: str, vec_col: str, cent: DataFrame, nprobe: int
) -> DataFrame:
    """Probe-tier nearest centroids for SMALL inputs (the query side):
    broadcast the centroid set, score the |Q| x nlist cross product,
    window-rank per row.  That blowup is exactly what disqualifies this
    form for the CORPUS side (see :func:`_nearest_centroids`), but for
    a probe set it is a tiny JVM-only job with a trivially cheap plan —
    beating both the Arrow tier (Python-worker roundtrip, ~hundreds of
    ms fixed, dwarfs the job) and a literal-unrolled expression argmax
    (nlist x dim literals re-analyzed and constant-folded driver-side
    on every invocation).  Semantics identical to the Arrow tier:
    9-digit quantize before ranking, ties to the lower centroid id,
    NULL cosines last."""
    from yet_another_map_reduce_spark.functions import dot, norm

    v = _dcast(vec_col)
    scored = (
        df.select(F.col(id_out).alias("__rid"), v.alias("__v"))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "__cos",
            F.round(
                F.try_divide(
                    dot(F.col("__v"), F.col("__centv")),
                    norm(F.col("__v")) * norm(F.col("__centv")),
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("__rid").orderBy(
        F.col("__cos").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("__crank", F.row_number().over(w))
        .where(F.col("__crank") <= nprobe)
        .select("__rid", "__v", "centroid_id")
    )


def _nearest_centroids(
    df: DataFrame,
    id_out: str,
    vec_col: str,
    cent: DataFrame,
    nprobe: int,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Per row: the ``nprobe`` nearest centroids by cosine — MAP-ONLY.

    The centroid set is model parameters (``nlist x dim`` doubles,
    KB-scale): it is collected once and shipped in the task closure, so
    the per-row argmax/top-nprobe is one Arrow-batched numpy matmul per
    input batch — zero corpus shuffle, and per-row cost that stays flat
    as corpus-aware nlist grows (BLAS, not an interpreted fold per
    centroid).  The previous construction cross-joined the corpus
    against the centroids and window-ranked the n x nlist blowup: with
    nlist ~ sqrt(n) that exchange carries ``O(n^1.5)`` array-payload
    rows — ~32 GB at the 100x replica — for what is arithmetically a
    per-row reduction.

    ``passthrough`` names extra input columns carried through the
    kernel unchanged (r15): the IVF-PQ paths attach the expression-
    computed ``pq_codes`` to each row BEFORE the kernel, so cell
    assignment and codes come out of ONE map-only pass — the previous
    ``assigned.join(enc, id)`` re-keyed two corpus-sized relations on
    the id for what is arithmetically a per-row zip (a full corpus
    shuffle at 100 TB, guide §2.4).

    The cosine is quantized to 9 digits BEFORE ranking and ties go to
    the LOWER centroid id — exactly what the DuckDB oracles replay.
    The 9-digit rounding is what makes a numpy matmul admissible here:
    BLAS accumulation order differs from a sequential fold only in the
    last ulp (~1e-16 relative), so both engines land on the same
    9-digit value except on exact decimal-half boundaries, which binary
    doubles cannot produce at digit 10.  NULL-cosine rows (zero-norm
    vector or centroid) rank last, matching ``cos DESC NULLS LAST``.
    """
    import numpy as np
    import pandas as pd

    rows = cent.select("centroid_id", "__centv").collect()
    try:
        cids = np.array([int(r["centroid_id"]) for r in rows], dtype=np.int64)
    except (ValueError, TypeError) as exc:
        raise TypeError(
            "IVF-family tiers require an INTEGER id column (the cell id "
            "rides a 'centroid_id long' schema end to end); hash string "
            "ids to int64 first (functions.md5_hash64)"
        ) from exc
    # an empty corpus trains no centroids, and then no row has a nearest
    # one: the kernel emits nothing
    C = (
        np.stack([np.asarray(r["__centv"], dtype=np.float64) for r in rows])
        if rows
        else np.empty((0, 0))
    )
    order = np.argsort(cids)  # cid-ascending so argmax/stable-sort
    cids, C = cids[order], C[order]  # ties resolve to the LOWER cid
    cn = np.sqrt(np.einsum("ij,ij->i", C, C))
    cn[cn == 0.0] = np.nan

    extra = list(passthrough or [])
    v = _dcast(vec_col)
    base = df.select(
        F.col(id_out).alias("__rid"), v.alias("__v"), *[F.col(c) for c in extra]
    )

    def _probe(batches):
        if not len(C):
            return
        nan_row = np.full(C.shape[1], np.nan)
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL vectors become NaN rows (cos NaN -> -inf below ->
            # assigned deterministically, never crash the worker) —
            # the same NULLS-LAST discipline as cosine_topk._scan
            V = np.stack(
                [
                    np.asarray(x, dtype=np.float64)
                    if x is not None
                    else nan_row
                    for x in pdf["__v"]
                ]
            )
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            vn[vn == 0.0] = np.nan
            with np.errstate(invalid="ignore"):
                S = round_half_up((V @ C.T) / np.outer(vn, cn), 9)
            S = np.where(np.isnan(S), -np.inf, S)  # NULLS LAST
            if nprobe == 1:
                best = S.argmax(axis=1)  # first max = lower cid
                out = {
                    "__rid": pdf["__rid"].to_numpy(),
                    "__v": pdf["__v"].to_numpy(),
                    "centroid_id": cids[best],
                }
                for c in extra:
                    out[c] = pdf[c].to_numpy()
                yield pd.DataFrame(out)
            else:
                k = min(nprobe, S.shape[1])
                top = np.argsort(-S, axis=1, kind="stable")[:, :k]
                idx = np.repeat(np.arange(len(pdf)), k)
                out = {
                    "__rid": pdf["__rid"].to_numpy()[idx],
                    "__v": pdf["__v"].to_numpy()[idx],
                    "centroid_id": cids[top.ravel()],
                }
                for c in extra:
                    out[c] = pdf[c].to_numpy()[idx]
                yield pd.DataFrame(out)

    rid_t = base.schema["__rid"].dataType.simpleString()
    extra_schema = "".join(
        f", {c} {base.schema[c].dataType.simpleString()}" for c in extra
    )
    return base.mapInPandas(
        _probe, f"__rid {rid_t}, __v array<double>, centroid_id long" + extra_schema
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: inverted-file partitioning by nearest
    centroid, probing only ``nprobe`` of ``nlist`` cells per query.

    Scale path: each corpus vector is assigned to exactly one cell
    (nprobe=1 on the build side), so at 100 TB the assigned corpus is
    written out partitioned by ``centroid_id`` and a probe touches
    ~``nprobe/nlist`` of the data at the file-pruning level.  With
    ``nprobe == nlist`` the search is exhaustive and equals
    ``cosine_topk`` exactly (pinned by test).
    """
    from yet_another_map_reduce_spark.functions import dot, norm

    query_id_col = query_id_col or id_col
    # pre-trained (centroid_id, __centv) — e.g. train_ivf_centroids —
    # replaces the lowest-id seeding
    cent = centroids if centroids is not None else ivf_centroids(corpus, id_col, vec_col, nlist)
    assigned = _nearest_centroids(corpus, id_col, vec_col, cent, 1).select(
        F.col("__rid").alias("neighbor_id"),
        F.col("__v").alias("__cv"),
        "centroid_id",
    )
    probes = _nearest_centroids_expr(queries, query_id_col, vec_col, cent, nprobe).select(
        F.col("__rid").alias("query_id"), F.col("__v").alias("__qv"), "centroid_id"
    )
    scored = (
        assigned.join(F.broadcast(probes), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                F.try_divide(
                    dot(F.col("__cv"), F.col("__qv")),
                    norm(F.col("__cv")) * norm(F.col("__qv")),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket.

    Recall is tunable via ``num_planes`` (fewer planes → bigger buckets
    → higher recall, more compute).  At 100 TB the bucketed corpus would
    be written out partitioned by bucket so probes prune at the file
    level.
    """
    query_id_col = query_id_col or id_col
    cb = lsh_bucket(corpus, vec_col, num_planes, dim).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "bucket"
    )
    qb = lsh_bucket(queries, vec_col, num_planes, dim).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "bucket"
    )
    scored = (
        cb.join(F.broadcast(qb), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine_similarity(F.col("__cv"), F.col("__qv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# Both Lloyd's trainers round their fixpoints (assignment scores and
# member means) to this many decimals: double accumulation-order drift
# never reaches digit 6, so every run, layout and the DuckDB oracles'
# CTE replays land on the same bits.
_LLOYD_DIGITS = 6


def _member_means(
    assigned: DataFrame, keys: list[str], vec_col: str
) -> dict[tuple, list[float]]:
    """The Lloyd's mean step of both trainers: per ``keys`` cell, the
    component-wise mean of its member vectors, rounded to
    ``_LLOYD_DIGITS``.

    ONE aggregation: ``posexplode`` to (keys, pos, x) and
    ``groupBy(*keys, pos)`` gets map-side partial aggregation, so the
    exchange carries ``cells x dim x partitions`` partial rows, never the
    corpus; its collect is 2 Spark jobs under AQE (shuffle map, result).
    The driver rebuilds each cell's vector by position.  A cell with no
    member is absent, so the caller keeps its previous centroid."""
    rows = (
        assigned.select(*keys, F.posexplode(vec_col))
        .groupBy(*keys, "pos")
        .agg(F.round(F.sum("col") / F.count(F.lit(1)), _LLOYD_DIGITS).alias("m"))
        .collect()
    )
    cells: dict[tuple, dict[int, float]] = {}
    for r in rows:
        cells.setdefault(tuple(r[k] for k in keys), {})[r["pos"]] = r["m"]
    return {key: [c[p] for p in sorted(c)] for key, c in cells.items()}


def _ivf_lloyd(
    corpus: DataFrame, id_col: str, vec_col: str, nlist: int, iterations: int
) -> list[list[float]]:
    """The Lloyd's loop of :func:`train_ivf_centroids` and
    :func:`kmeans_assign`; entry ``i`` of the returned list is cell ``i``.
    NULL vectors take no part in seeding or assignment, as in
    :func:`train_pq_codebooks`.  A corpus with no non-NULL vector trains
    no model: the list is empty."""
    corpus = corpus.where(F.col(vec_col).isNotNull())
    seeds = ivf_centroids(corpus, id_col, vec_col, nlist).collect()
    cents: list[list[float]] = [list(r["__centv"]) for r in seeds]
    if not cents:
        return cents
    vecs = corpus.select(_dcast(vec_col).alias("__v"))

    def assign_in_pandas(cents: list[list[float]]):
        # argmax_i dot(v, c_i / |c_i|): norm(v) is a positive common
        # factor, so unit-normalizing centroids driver-side makes the
        # cosine argmax a plain dot-product argmax — ONE numpy matmul
        # per Arrow batch against the KB-scale unit-centroid matrix
        # (task-closure model shipping, map-only, no corpus shuffle).
        # _LLOYD_DIGITS quantization before the argmax is what lets the
        # oracle replay it despite accumulation-order differences;
        # np.argmax takes the FIRST max, i.e. ties to the lower cid.
        import numpy as np
        import pandas as pd

        U = np.stack([np.asarray(c, dtype=np.float64) for c in cents])
        un = np.sqrt(np.einsum("ij,ij->i", U, U))
        un[un == 0.0] = 1.0
        U = U / un[:, None]

        def _assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
                )
                S = round_half_up(V @ U.T, _LLOYD_DIGITS)
                yield pd.DataFrame(
                    {
                        "__cid": S.argmax(axis=1).astype(np.int64),
                        "__v": pdf["__v"].to_numpy(),
                    }
                )

        return _assign

    for _ in range(iterations):
        assigned = vecs.mapInPandas(
            assign_in_pandas(cents), "__cid long, __v array<double>"
        )
        for (cid,), mean in _member_means(assigned, ["__cid"], "__v").items():
            cents[cid] = mean
    return cents


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    iterations: int = 5,
) -> DataFrame:
    """Train IVF centroids with distributed Lloyd's k-means (the step
    :func:`ivf_centroids` stubs with lowest-id seeding).

    Spherical flavor matching :func:`ivf_topk`'s cosine assignment: a
    vector joins the centroid with the highest cosine; the new centroid
    is the arithmetic mean of its members.  Deterministic end to end —
    lowest-id seeds, fixed iteration count, per-iteration rounding to
    ``_LLOYD_DIGITS`` (bit-stable fixpoint under double accumulation-
    order differences), ties broken toward the lower centroid id.

    Execution shape (the plan that survives 100 TB):

    - assignment is MAP-ONLY: the centroids are model parameters
      (``nlist x dim`` doubles, KB-scale) shipped in an Arrow kernel's
      task closure — the "ship the model each round" pattern of
      ``pyspark.ml``'s KMeans; no corpus shuffle.  The kernel, not a
      literal-unrolled SQL argmax like :func:`kmeans_assign`'s final
      pass, because its per-row cost is one BLAS matmul row, flat as
      ``dedup.sized_nlist`` grows (16 cells at sf0.1, 159 at the 100x
      replica), where the SQL form folds ``nlist`` interpreted dots;
    - the mean update is ONE shuffle per iteration
      (:func:`_member_means`, shared with :func:`train_pq_codebooks`);
    - per-iteration driver state is the centroid matrix itself (what a
      parameter server would hold), nothing proportional to the data.

    Training launches ``1 + 2·iterations`` Spark jobs under AQE: the
    seed collect, then a shuffle-map and a result job per iteration.
    Against a two-aggregation mean step and a local-relation round trip
    in :func:`kmeans_assign` (sf0.1, warm, local[4] on 4 shared vCPUs,
    10 interleaved process pairs; construction jobs, median seconds,
    pairs won, parent IQR): ``embedding_kmeans_clusters`` 10 → 5, 1.48 →
    1.13 s, 10/10, 0.34; ``embedding_balanced_sample`` 10 → 5, 1.42 →
    1.20 s, 8/10, 0.44; ``ann_ivf_trained`` 7 → 5, 1.34 → 1.30 s, 8/10,
    0.43; ``dedup_semantic`` 9 → 7, 1.26 → 1.20 s, 8/10, 0.28.  Outputs
    identical; execution seconds unchanged within the parent's IQR.

    Empty clusters keep their previous centroid.  Returns
    ``(centroid_id, __centv)`` shaped for :func:`ivf_topk`'s
    ``centroids`` parameter, with ``centroid_id`` densely renumbered
    ``0..nlist-1``.
    """
    return local_relation(
        corpus.sparkSession,
        list(enumerate(_ivf_lloyd(corpus, id_col, vec_col, nlist, iterations))),
        "centroid_id long, __centv array<double>",
    )


def kmeans_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 8,
    iterations: int = 3,
) -> DataFrame:
    """Semantic clustering for corpus curation: train spherical k-means
    (:func:`train_ivf_centroids`) and assign every vector to its nearest
    centroid by cosine — the embedding-space bucketing step behind
    topic-balanced sampling, per-domain mixing weights, and
    cluster-level quality triage in training-data pipelines.

    Returns ``(id, cluster_id, cos)`` — one row per input vector, the
    cosine being the similarity to the assigned centroid.  A NULL vector
    has no nearest centroid: its ``cluster_id`` and ``cos`` are NULL
    (training skips it too).

    Scale shape: training is map-only assignment + one tiny shuffle per
    iteration (see :func:`train_ivf_centroids`), and its centroid list
    feeds the final assignment directly — ``1 + 2·iterations`` Spark
    jobs in all, the training's own.  The final assignment embeds the
    unit-normalized centroids as literal arrays (KB-scale model
    parameters) and picks the argmax dot per row inside whole-stage
    codegen — zero shuffles, zero Python, the corpus is read exactly
    once.  Deterministic end to end, so cluster ids are stable across
    runs and cluster layouts.
    """
    import math

    # the model is the driver-side centroid list (nlist x dim doubles)
    units: list[tuple[int, list[float]]] = []
    for cid, c in enumerate(_ivf_lloyd(corpus, id_col, vec_col, nlist, iterations)):
        n = math.sqrt(sum(x * x for x in c)) or 1.0
        units.append((cid, [x / n for x in c]))

    # ONE SQL string (r15, same rationale as _pq_codes_expr): the
    # Column-API form made a py4j round trip per centroid component —
    # nlist × dim literals per plan construction.  Same expressions:
    # dot against unit centroids, _LLOYD_DIGITS round, lower-id tiebreak
    # via max of (d, -cid) structs.
    v = f"transform(`{vec_col}`, x -> cast(x as double))"
    cands = ",".join(
        "named_struct('d', round("
        f"aggregate(zip_with({v}, array({','.join(_dlit(x) for x in unit)}), "
        f"(a, b) -> a * b), 0.0D, (acc, x) -> acc + x), {_LLOYD_DIGITS}), 'ni', {-cid})"
        for cid, unit in units
    )
    # with no model (no non-NULL vector to train on) no row has a centroid
    best = (
        f"array_max(array({cands}))"
        if units
        else "cast(null as struct<d:double, ni:int>)"
    )
    # every d of a NULL vector is NULL, and array_max would still pick
    # the struct with the lowest id
    return corpus.select(
        F.col(id_col),
        F.expr(
            f"if(`{vec_col}` is null, null, cast(-(({best}).ni) as bigint))"
        ).alias("cluster_id"),
        F.expr(
            f"round(try_divide(({best}).d, "
            f"sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))), 6)"
        ).alias("cos"),
    )


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, qvec_col: str = "qvec"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of an embedding
    column: ``scale = 127 / max(|v_i|)``, ``q_i = floor(v_i*scale + 0.5)``
    (floor-of-shifted instead of round() so Spark and ANSI-SQL engines
    agree bit-for-bit on negative halves).

    Cosine is scale-invariant, so the per-vector scale factor cancels and
    never needs to be stored for similarity search — the quantized
    corpus is just ``array<tinyint>``-valued (carried as bigint here for
    arithmetic width), a 4× storage/scan reduction vs float32 at 100 TB,
    and the dot products downstream are exact integer arithmetic
    (deterministic across engines, no float summation-order drift).

    All-zero vectors quantize to all zeros (scale 0) and rank last via
    ``try_divide`` NULLs downstream rather than raising.
    """
    v = _dcast(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("bigint"))
    return df.select(F.col(id_col), q.alias(qvec_col))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    qrows: list | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors over int8-quantized vectors —
    the memory-bandwidth tier of the ANN stack (quantize → integer dot),
    composable with :func:`lsh_topk` / :func:`ivf_topk` bucketing for
    candidate pruning.

    Same scale shape AND the same Arrow-matmul execution as
    :func:`cosine_topk` (the prior per-row codegen HOF fold was
    corpus-linear in interpreted float ops — 48× at the 100× replica;
    the matmul tier is one BLAS call per Arrow batch): the (small, by
    contract) query side is quantized and shipped in the task closure;
    each corpus batch is quantized in numpy — bit-identical to the
    expression form, ``floor(v * (127/max|v|) + 0.5)`` elementwise in
    float64 — and only per-batch top-k candidates leave the scan.
    Every dot/norm is EXACT: quantized components are integers ≤ 127,
    so a 64-dim dot is ≤ 64·127² ≪ 2^53 and float64 BLAS cannot drift
    whatever the accumulation order — the oracle replays the pipeline
    bit-for-bit with no rounding licence needed before the final
    6-digit quantization (``round_half_up``, the DuckDB-matching rule).

    Contract notes shared with :func:`cosine_topk`: EAGER at
    construction (the query side is collect()-ed when this function is
    called — composing plans speculatively triggers execution);
    zero-norm / NULL vectors score NULL and rank last; self-matches
    excluded; ties break to the lower neighbor id.
    """
    import numpy as np
    import pandas as pd

    from .quantize import round_half_up

    def _q8(vec) -> "np.ndarray | None":
        # floor(v*scale + 0.5), scale = 127/max|v| — the same float64
        # elementwise ops the quantize_embeddings expression runs, so
        # the two forms agree bit-for-bit on every component
        if vec is None:
            return None
        v = np.asarray(vec, dtype=np.float64)
        ma = float(np.max(np.abs(v))) if v.size else 0.0
        scale = 127.0 / ma if ma > 0 else 0.0
        return np.floor(v * scale + 0.5)

    if qrows is None:
        qrows = collect_query_matrix(queries, id_col, vec_col)
    # query_id carries the QUERIES frame's id type, neighbor_id the
    # corpus's — they share a column name but not necessarily a type
    qid_t = queries.schema[id_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    if not qrows:
        return local_relation(
            corpus.sparkSession,
            [],
            f"query_id {qid_t}, neighbor_id {id_t}, qcos double, qrank bigint",
        )
    qids = np.array([r["query_id"] for r in qrows])
    qqs = [_q8(r["__qv"]) for r in qrows]
    q_valid = [i for i, qq in enumerate(qqs) if qq is not None]
    if q_valid:
        dim = qqs[q_valid[0]].size
        Q = np.zeros((len(qrows), dim))
        for i in q_valid:
            Q[i] = qqs[i]
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        qn[qn == 0.0] = np.nan
        qn[[i for i in range(len(qrows)) if i not in set(q_valid)]] = np.nan
    else:
        Q, qn = None, None

    cv = _dcast(vec_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), cv.alias("__cv"))

    def _scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy()
            vecs = [_q8(x) for x in pdf["__cv"]]
            v_null = np.array([x is None for x in vecs])
            dim_ = Q.shape[1] if Q is not None else next(
                (x.size for x in vecs if x is not None), 1
            )
            V = np.stack([np.zeros(dim_) if x is None else x for x in vecs])
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            vn[vn == 0.0] = np.nan
            vn[v_null] = np.nan
            if Q is None:
                S = np.full((len(ids), len(qids)), np.nan)
            else:
                with np.errstate(invalid="ignore"):
                    S = round_half_up((V @ Q.T) / np.outer(vn, qn), 6)
            out_q, out_n, out_c = [], [], []
            key = np.where(np.isnan(S), np.inf, -S)
            for j in range(len(qids)):
                keep = ids != qids[j]
                order = np.lexsort((ids[keep], key[keep, j]))[:k]
                sel = np.flatnonzero(keep)[order]
                out_q.extend([qids[j]] * len(sel))
                out_n.extend(ids[sel])
                out_c.extend(S[sel, j])
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    "qcos": pd.Series(
                        [None if np.isnan(x) else float(x) for x in out_c],
                        dtype=object,
                    ),
                }
            )

    cand = c.mapInPandas(
        _scan, f"query_id {qid_t}, neighbor_id {id_t}, qcos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("qrank", F.row_number().over(w).cast("bigint"))
        .where(F.col("qrank") <= k)
        .select("query_id", "neighbor_id", "qcos", "qrank")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and train ``k`` L2 centroids per subspace with the same
    deterministic Lloyd's recipe as :func:`train_ivf_centroids` — seeds
    are the ``k`` lowest-id vectors' subvectors, assignment is by
    6-rounded squared L2 (ties to the lower centroid id), member means
    are 6-rounded, empty cells keep the prior centroid.  The rounding
    makes every fixpoint replayable in ANSI SQL despite accumulation-
    order drift.

    Returns ``books[s][j]`` = centroid ``j`` of subspace ``s`` (a list
    of ``dim/m`` floats) — KB-scale model parameters fetched driver-side,
    the pyspark.ml pattern.  Training cost: one corpus scan + one tiny
    (m*k*subdim rows) shuffle per iteration; all subspaces train in the
    SAME pass, assigned by :func:`_pq_codes_expr` and averaged by
    :func:`_member_means` keyed on (subspace, code).  ``1 +
    2·iterations`` Spark jobs under AQE: the seed collect, then a
    shuffle-map and a result job per iteration.  A corpus whose ``k``
    lowest-id rows hold no non-NULL vector (an empty corpus, say) trains
    no model: the list is empty, as :func:`_ivf_lloyd` returns no
    centroids.
    """
    rows = corpus.orderBy(F.col(id_col).asc()).limit(k).select(vec_col).collect()
    vecs = [[float(x) for x in r[vec_col]] for r in rows if r[vec_col] is not None]
    if not vecs:
        return []
    dim = len(vecs[0])
    if dim % m:
        # FAISS raises on d % M too: silently training on dim//m-sized
        # slices would drop the trailing dim % m components from every
        # distance the codes ever produce — quiet recall loss, no error
        raise ValueError(
            f"train_pq_codebooks: dim={dim} not divisible by m={m}; "
            "pad the vectors or pick an m that divides the dimension"
        )
    sub = dim // m
    # fewer rows than k: reuse seeds cyclically (duplicate centroids
    # collapse toward distinct means over iterations; ties keep the
    # lower id) instead of raising IndexError on small corpora
    books: list[list[list[float]]] = [
        [vecs[j % len(vecs)][s * sub : (s + 1) * sub] for j in range(k)]
        for s in range(m)
    ]

    for _ in range(iterations):
        # (s, code) per subspace from the same expression pq_encode runs,
        # then each row's subvector s
        assigned = corpus.select(
            F.posexplode(_pq_codes_expr(vec_col, books)).alias("s", "code"),
            _dcast(vec_col).alias("__v"),
        ).select("s", "code", F.expr(f"slice(__v, s * {sub} + 1, {sub})").alias("sv"))
        for (s, j), mean in _member_means(assigned, ["s", "code"], "sv").items():
            books[s][j] = mean
    return books


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the 6-rounded-L2-nearest
    codebook entry (ties to the lower id) — the codebooks ride along as
    literal arrays, so the corpus is read once with zero shuffles and
    each vector compresses to ``m`` small ints (64 float32 dims → 4
    bytes at m=4: a 64× scan reduction for the candidate-ranking pass).
    """
    return corpus.select(
        F.col(id_col), _pq_codes_expr(vec_col, books).alias("pq_codes")
    )


def _dlit(x: float) -> str:
    """A SQL double literal with the exact bits of the Python float:
    ``repr`` round-trips doubles and the ``D`` suffix keeps Spark from
    parsing plain decimals as DECIMAL.  Non-finite values need the
    function form — ``repr`` yields ``nan``/``inf``, which do not parse
    as literals (r15 ADVICE: a NaN centroid component would otherwise
    raise AnalysisException at plan construction, where the old
    ``F.lit`` Column form built a valid NaN literal)."""
    if x != x:
        return "double('NaN')"
    if x == float("inf"):
        return "double('Infinity')"
    if x == float("-inf"):
        return "double('-Infinity')"
    return f"{x!r}D"


def _sq_l2_sql(subv_sql: str, cent: list[float]) -> str:
    """``aggregate(zip_with(subv, cent, (a,b)->(a-b)*(a-b)), 0.0, +)`` as
    SQL text — the same squared-L2 fold the Column form built."""
    arr = ",".join(_dlit(c) for c in cent)
    return (
        f"aggregate(zip_with({subv_sql}, array({arr}), "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
    )


def _pq_codes_expr(vec_col: str, books: list[list[list[float]]]) -> Column:
    """The PQ code array as a pure Column expression over ``vec_col`` —
    shared by :func:`pq_encode` and the fused assign+encode paths
    (build/append/ivfpq_topk attach it to the row BEFORE the cell-
    assignment kernel so no corpus self-join is needed).

    Generated as ONE SQL string (r15): the Column-API form made a py4j
    round trip per literal/operator — ~1.1 s of driver time PER PLAN
    CONSTRUCTION for m=4, k=8, dim=64 codebooks, paid again on every
    invocation (the bench constructs the plan per timed run, and a real
    driver constructs it per job).  ``F.expr`` parses the same
    expression tree JVM-side in ~3 ms; semantics are identical
    (same zip_with/aggregate folds, same 6-digit round, same
    struct-min argmin with ties to the lower code id).  No codebooks (an
    empty training corpus) give an empty code array.
    """
    if not books:
        return F.expr("cast(array() as array<int>)")
    m = len(books)
    sub = len(books[0][0])
    v = f"transform(`{vec_col}`, x -> cast(x as double))"

    def _code(s: int, book: list[list[float]]) -> str:
        subv = f"slice({v}, {s * sub + 1}, {sub})"
        cands = ",".join(
            f"named_struct('d', round({_sq_l2_sql(subv, cent)}, {_LLOYD_DIGITS}), 'j', {j})"
            for j, cent in enumerate(book)
        )
        return f"array_min(array({cands})).j"

    return F.expr(
        "array(" + ",".join(_code(s, books[s]) for s in range(m)) + ")"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 4,
    nclusters: int = 8,
    iterations: int = 2,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: each query builds an ``m x nclusters`` lookup table of
    6-rounded subspace distances to the codebooks, and a corpus vector's
    approximate distance is the sum of its codes' table entries — the
    FAISS IVF-PQ ranking tier, here as pure codegen expressions.

    Scale shape: training is :func:`train_pq_codebooks` (model-param
    collects only), encoding is map-only, and ranking scans the
    code-compressed corpus (bytes per vector, not KBs) against the
    broadcast query side — no shuffle except the final per-query top-k
    window.  Deterministic end to end, so the whole train→encode→ADC
    pipeline is replayable in ANSI SQL.
    """
    if books is None:
        books = train_pq_codebooks(
            corpus, id_col, vec_col, m=m, k=nclusters, iterations=iterations
        )
    m = len(books)
    # every DataFrame op after the giant literal expressions enter the
    # plan re-analyzes the whole tree (m·k·dim literal nodes), so the
    # chain is collapsed into as few transformations as possible
    # (measured ~20 ms per op on these plans, r16)
    enc = pq_encode(corpus, id_col, vec_col, books).select(
        F.col(id_col).alias("neighbor_id"), "pq_codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dcast(vec_col).alias("__qv"),
    ).select("query_id", _adc_lut(books).alias("__lut"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", _adc_dist_from_lut(m).alias("adist")
        )
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            "adist",
            F.row_number().over(w).cast("bigint").alias("qrank"),
        )
        .where(F.col("qrank") <= k)
    )


def _adc_lut(books: list[list[list[float]]]) -> Column:
    """Per-QUERY ADC lookup table as an ``array<array<double>>``
    column over ``__qv``: entry ``[s][c]`` is the 6-rounded squared L2
    from the query's subspace-``s`` subvector to codebook entry ``c``.

    Must be attached to the (broadcast) QUERY side before the
    corpus join: the table depends only on the query vector and the
    codebook literals, so evaluating it there costs |queries| × m × k
    interpreted folds TOTAL.  The original formulation inlined this
    derivation into the per-corpus-row distance expression, which
    re-derived the full m×k table for EVERY scored row (~16k
    interpreted float ops/row — measured ~0.3 ms/row, the entire cost
    of the 100× persisted-index search); per-row work is now just
    ``m`` array lookups (:func:`_adc_dist_from_lut`).

    Generated as ONE SQL string (r15, same rationale as
    :func:`_pq_codes_expr`): the Column-API form cost ~0.85 s of py4j
    round trips per plan construction.  No codebooks give an empty
    table."""
    if not books:
        return F.expr("cast(array() as array<array<double>>)")
    m = len(books)
    sub = len(books[0][0])

    def _lut(s: int, book: list[list[float]]) -> str:
        subv = f"slice(__qv, {s * sub + 1}, {sub})"
        return (
            "array("
            + ",".join(f"round({_sq_l2_sql(subv, cent)}, 6)" for cent in book)
            + ")"
        )

    return F.expr(
        "array(" + ",".join(_lut(s, books[s]) for s in range(m)) + ")"
    )


def _adc_dist_from_lut(m: int) -> Column:
    """Asymmetric distance from the per-query ``__lut`` column and the
    corpus row's ``pq_codes``: the 6-rounded sum of the ``m`` table
    entries the codes select.  Identical values to deriving the table
    in-row (same per-entry rounding, same left-to-right summation) —
    the split is purely an evaluation-count optimization.  With no
    subspaces (no codebooks) the distance is NULL."""
    if not m:
        return F.lit(None).cast("double")
    terms = [
        F.element_at(
            F.element_at(F.col("__lut"), s + 1),
            F.element_at(F.col("pq_codes"), s + 1) + 1,
        )
        for s in range(m)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.round(total, 6)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    nclusters: int = 8,
    iterations: int = 2,
    centroids: DataFrame | None = None,
    books: list[list[list[float]]] | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """The composed IVF-PQ index — the FAISS shape end to end: corpus
    vectors live in inverted-file cells (nearest seed centroid), each
    compressed to ``m`` PQ codes; a query probes ``nprobe`` of
    ``nlist`` cells and ranks ONLY the cell-mates, by ADC lookup-table
    distance instead of full-vector arithmetic.

    ``keep_vec=True`` additionally returns the candidate's double-cast
    full vector as ``__nv`` — the assignment kernel already emits it,
    so the re-rank tier can score its shortlist WITHOUT a second corpus
    scan (r16; see :func:`ivfpq_rerank_topk`).  The top-k window then
    carries vector payloads, which is why it is opt-in: only the
    re-rank pipeline (bounded ``|Q|·nprobe/nlist`` candidate fraction)
    wants that trade.

    Scale shape: the two prunings multiply — I/O touches
    ~``nprobe/nlist`` of the corpus (file-level when the encoded index
    is persisted partitioned by cell, as ``ivf_topk``'s persisted
    variant demonstrates) and the scanned bytes per candidate are the
    ``m`` codes, not the vector.  Everything downstream of the two
    deterministic trainings is map-only + one broadcast join + the
    per-query top-k window, and the whole pipeline remains replayable
    in ANSI SQL.
    """
    # both model halves are injectable (train-once / search-many: train
    # and persist the model, then pass it to every search call — the
    # FAISS index lifecycle; retraining per query would rescan the
    # corpus per call for an identical deterministic result)
    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, nlist)
    )
    probes = _nearest_centroids_expr(queries, id_col, vec_col, cent, nprobe).select(
        F.col("__rid").alias("query_id"), F.col("__v").alias("__qv"), "centroid_id"
    )
    if books is None:
        books = train_pq_codebooks(
            corpus, id_col, vec_col, m=m, k=nclusters, iterations=iterations
        )
    # fused assign+encode: codes ride the row INTO the cell-assignment
    # kernel (one map-only pass; the previous assigned⋈enc self-join
    # shuffled the corpus twice on the id for a per-row zip)
    vec_out = [F.col("__v").alias("__nv")] if keep_vec else []
    index = _nearest_centroids(
        corpus.withColumn("pq_codes", _pq_codes_expr(vec_col, books)),
        id_col,
        vec_col,
        cent,
        1,
        passthrough=["pq_codes"],
    ).select(
        F.col("__rid").alias("neighbor_id"), "centroid_id", "pq_codes", *vec_out
    )
    # chain collapsed to minimize re-analysis of the literal-heavy plan
    # (same rationale as pq_topk, r16); __qv is pruned from the
    # broadcast side once the LUT is derived
    vec_out2 = ["__nv"] if keep_vec else []
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    scored = (
        index.join(
            F.broadcast(
                probes.select(
                    "query_id", "centroid_id", _adc_lut(books).alias("__lut")
                )
            ),
            "centroid_id",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist_from_lut(len(books)).alias("adist"),
            *vec_out2,
        )
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            "adist",
            F.row_number().over(w).cast("bigint").alias("qrank"),
            *vec_out2,
        )
        .where(F.col("qrank") <= k)
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    shortlist: int = 30,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    nclusters: int = 8,
    iterations: int = 2,
    centroids: DataFrame | None = None,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ADC shortlist + EXACT re-rank — the standard production recipe
    for recovering accuracy lost to PQ quantization (FAISS's
    ``IndexRefineFlat`` / the "re-ranking" stage in every large-scale
    retrieval system): the IVF-PQ index cheaply ranks cell-mates by
    approximate ADC distance, the top ``shortlist`` per query are then
    scored with TRUE cosine against their full vectors, and the final
    top ``k`` come from the exact scores.

    Scale shape (r16 — fused single scan): the expensive exactness is
    confined to ``|Q| × shortlist`` rows.  The candidate's full vector
    rides OUT of the assignment kernel alongside its PQ codes
    (``ivfpq_topk(keep_vec=True)`` — the kernel already materializes
    it), so the shortlist arrives with its vectors attached and the
    former second corpus scan (broadcast the shortlist ids, re-fetch
    vectors map-side) is gone: ONE corpus scan total.  The trade is
    that the ADC top-``shortlist`` window carries vector payloads —
    bounded by the probed candidate fraction ``|Q|·nprobe/nlist`` of
    the corpus, vs. a full second pass over the id+vector columns; for
    query batches small enough to broadcast (the tier's contract) the
    fused form moves strictly fewer bytes.  Cost = ADC search +
    shortlist·|Q| exact arithmetic, while recall@k approaches exact
    search as ``shortlist/k`` grows (quantization error only hurts if
    a true top-k neighbor falls outside the ADC top-``shortlist``).

    Exact-scoring semantics match ``cosine_topk``'s oracle contract:
    cosine in double, rounded to 6 digits BEFORE ranking, ties to the
    lower neighbor id, NULL cosines (zero-norm vectors) last.
    Returns (query_id, neighbor_id, cos, rerank).
    """
    from yet_another_map_reduce_spark.functions import cosine_similarity

    sl = ivfpq_topk(
        corpus,
        queries,
        id_col,
        vec_col,
        k=shortlist,
        nlist=nlist,
        nprobe=nprobe,
        m=m,
        nclusters=nclusters,
        iterations=iterations,
        centroids=centroids,
        books=books,
        keep_vec=True,
    ).select("query_id", "neighbor_id", "__nv")
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cand = sl.join(F.broadcast(qvec), "query_id")
    # collapsed chain (fewer re-analyses of the literal-heavy shortlist
    # lineage, r16): score and rank in two selects instead of
    # withColumn -> withColumn -> where -> select
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("__qv"), F.col("__nv")), 6).alias(
            "cos"
        ),
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            "cos",
            F.row_number().over(w).cast("bigint").alias("rerank"),
        )
        .where(F.col("rerank") <= k)
    )


def build_ivfpq_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    centroids: DataFrame,
    books: list[list[list[float]]],
) -> str:
    """Materialize the IVF-PQ index: every corpus vector's cell
    assignment + PQ codes, written as parquet **partitioned by
    centroid_id** — the train-once half of the FAISS lifecycle.

    Crash-consistent two-phase commit (the yamr manifest pattern,
    sources/yamr_format.py): the data lands in a fresh versioned
    subdirectory ``v_<token>`` under ``index_dir``, and the ``CURRENT``
    pointer file is swapped in atomically LAST (tmp + ``os.replace``).
    A reader resolving ``CURRENT`` therefore never sees a half-written
    index, an interrupted rebuild leaves the live version untouched,
    and the swap runs through the SAME locked OCC check-and-swap as
    appends/compactions (:func:`_locked_occ_commit`): if CURRENT
    advanced while this build ran — a concurrent append, compaction,
    or rebuild — the build raises :class:`IndexConflictError` instead
    of silently orphaning the other writer's committed version.
    Orphan ``v_*`` dirs from crashed/losing builds are invisible
    garbage, collectable by listing against ``CURRENT``.

    At 100 TB this runs once per corpus version; the index is bytes per
    vector (``m`` small ints), and the hive partitioning is what turns
    ``nprobe/nlist`` from a post-scan filter into file-level pruning
    (``PartitionFilters`` in the probe scan — pinned by test).

    The trained model halves — centroids and PQ codebooks, KB-scale —
    are persisted alongside the data as ``_model.json`` inside the
    versioned dir (the underscore prefix keeps the parquet reader from
    treating it as data, the _SUCCESS convention), INSIDE the same
    two-phase commit: a cold session that resolves ``CURRENT`` gets
    data + model atomically and can search with ZERO training scans
    (:func:`load_ivfpq_model`).

    Returns the committed versioned data directory.
    """
    import json
    import os
    import uuid

    # OCC base: the live version observed BEFORE any work — the pointer
    # swap below is conditional on it, so a rebuild can never clobber a
    # version that an append/compaction committed concurrently
    expected_live = _resolve_index_dir(index_dir)
    # NULL-embedding rows can never be retrieved (cosine undefined) —
    # indexing them would only plant NULL-coded rows in a cell
    corpus = corpus.where(F.col(vec_col).isNotNull())
    # fused assign+encode (see ivfpq_topk): one map-only pass, no
    # corpus self-join before the partitioned write
    encoded = _nearest_centroids(
        corpus.withColumn("pq_codes", _pq_codes_expr(vec_col, books)),
        id_col,
        vec_col,
        centroids,
        1,
        passthrough=["pq_codes"],
    ).select(F.col("__rid").alias("neighbor_id"), "pq_codes", "centroid_id")
    version = f"v_{uuid.uuid4().hex[:12]}"
    build_dir = os.path.join(index_dir, version)
    (
        encoded.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(build_dir)
    )
    cent_rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["__centv"]])
        for r in centroids.collect()
    )
    # the schema every segment reads back with (the partition column
    # comes back as int), kept for segments written from zero rows,
    # which hold no data file to infer it from
    id_type = encoded.schema["neighbor_id"].dataType.simpleString()
    segment_schema = f"neighbor_id {id_type}, pq_codes array<int>, centroid_id int"
    with open(
        os.path.join(build_dir, "_model.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(
            {"centroids": cent_rows, "books": books, "segment_schema": segment_schema}, fh
        )
    # same locked OCC check-and-swap as append/compaction: a bare
    # os.replace here could clobber a CURRENT that a concurrent append
    # advanced after this build snapshotted its corpus — silently
    # orphaning the appended segment AND dropping its consumed-token
    # record (the build layout has no manifest), so a later replay of
    # that token would re-append. A racing build now gets
    # IndexConflictError and retries against the new live version.
    _locked_occ_commit(index_dir, expected_live, version, "rebuild")
    return build_dir


def build_ivfpq_index_auto(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    books: list[list[list[float]]],
    target_cluster_size: int = 8,
    n: int | None = None,
) -> tuple[str, int]:
    """Corpus-aware persisted-index build: derive ``nlist`` from the
    corpus size (``dedup.sized_nlist`` — ``ceil(sqrt(n/tcs))``, the
    FAISS ``nlist ~ sqrt(n)`` practice) instead of freezing a demo
    constant into the index.

    This is what keeps the PROBED FRACTION shrinking as the corpus
    grows: with fixed ``nprobe``, a fixed ``nlist=16`` probes 25% of
    the index forever, while sized cells make the fraction
    ``nprobe / sqrt(n/tcs)`` — at a 100× corpus the same ``nprobe=4``
    touches ~2.5% of cells (and of index bytes, via the centroid_id
    hive partitioning).  Each cell still holds ~``sqrt(n*tcs)`` codes,
    so per-probe scan cost grows as sqrt(n), not n.

    ``n`` short-circuits the count when the caller already knows it
    (e.g. a parquet-metadata count).  Returns ``(committed_dir,
    nlist)`` so callers can log the sizing the index was built with —
    it is also recoverable from the model sidecar's centroid count.
    """
    from yet_another_map_reduce_spark.operators.dedup import sized_nlist

    nlist = sized_nlist(n if n is not None else corpus.count(), target_cluster_size)
    cent = ivf_centroids(corpus, id_col, vec_col, nlist)
    return (
        build_ivfpq_index(corpus, id_col, vec_col, index_dir, cent, books),
        nlist,
    )


class IndexConflictError(RuntimeError):
    """Another writer advanced the index's CURRENT pointer between this
    append's parent resolution and its commit — retry re-encodes the
    batch against the new parent (same contract as
    yamr_format.ManifestConflictError)."""


#: a lock file older than this is presumed abandoned by a crashed
#: committer (the critical section is a re-read + pointer swap,
#: milliseconds) and is broken by waiters
_COMMIT_LOCK_STALE_S = 60.0

# Default probed index fraction for search_ivfpq_index when neither
# nprobe nor probe_fraction is passed: 2.5% of cells (floored at
# nprobe=4) keeps recall stable as nlist grows with the corpus
# (nlist ∝ sqrt(n)); a fixed absolute nprobe would probe a vanishing
# fraction at scale (r10/r11 verdict, BASELINE.md sloped-recall table).
DEFAULT_PROBE_FRACTION = 0.025


def _locked_occ_commit(
    index_dir: str, expected_live: str, version: str, action: str
) -> None:
    """Serialize the OCC check-and-swap of ``CURRENT`` under an
    exclusive lock file, making it a true compare-and-swap on any
    filesystem with atomic ``O_CREAT|O_EXCL`` (local, NFSv3+, most
    object-store FUSE layers).

    The bare check-then-swap it replaces had a window: two appends
    could both pass the re-read and both ``os.replace`` CURRENT, and
    the loser's segment would be silently orphaned — exactly the data
    loss the OCC guard exists to prevent.  Under the lock, the re-read
    and the swap are one critical section, so a racing writer
    deterministically gets :class:`IndexConflictError` instead.

    Liveness: a committer that crashes inside the critical section
    leaves the lock behind; waiters break locks older than
    ``_COMMIT_LOCK_STALE_S`` (the section is milliseconds — a fresh
    lock is never broken) and give up loudly after a bounded wait.
    Breaking is an atomic RENAME to a unique name, a freshness
    re-check on the RENAMED file, then unlink: of N concurrent
    breakers exactly one rename succeeds (renaming a missing source
    raises), and a breaker that discovers it renamed away a FRESH
    lock (a racing breaker unlinked the stale one and a new committer
    re-acquired between this breaker's stat and its rename) restores
    it with a no-clobber ``O_CREAT|O_EXCL`` re-create (portable to
    filesystems without hard links) and backs off — the
    stat-then-unlink variant this replaces let that slow loser delete
    the new committer's live lock outright.  Residual window: if the
    path is re-taken by yet another acquirer during the µs-scale
    steal-then-restore interval, the restore is skipped and the
    stolen victim runs unlocked; closing that completely needs a
    fencing-capable store (etcd/ZooKeeper-class), not a lock file.

    Staleness compares the waiter's ``time.time()`` against the lock
    file's mtime, so it assumes writer/waiter clocks (and, on network
    filesystems, the server stamping mtimes) agree to well within
    ``_COMMIT_LOCK_STALE_S``; with >60 s skew a waiter could break a
    LIVE lock.  Keep the bound generous relative to clock sync
    quality, never shrink it near NTP drift scales.
    """
    import os
    import time
    import uuid

    lock = os.path.join(index_dir, "_commit.lock")
    deadline = time.monotonic() + 30.0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                stale = (
                    time.time() - os.path.getmtime(lock)
                    > _COMMIT_LOCK_STALE_S
                )
            except FileNotFoundError:
                continue  # holder released between open and stat: retry
            except OSError:
                # Unreadable for some other persistent reason (e.g. a
                # permissions change on index_dir): can't judge
                # staleness, so treat as fresh and fall through to the
                # bounded wait instead of busy-spinning forever.
                stale = False
            if stale:
                doomed = f"{lock}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(lock, doomed)
                except FileNotFoundError:
                    continue  # another breaker won (or holder released)
                except OSError:
                    # can't break (e.g. dir perms): bounded wait below
                    if time.monotonic() > deadline:
                        raise IndexConflictError(
                            f"commit lock {lock} unbreakable and held "
                            ">30 s; remove it manually if no writer is "
                            "alive"
                        )
                    time.sleep(0.05)
                    continue
                # Verify the rename grabbed the SAME stale instance we
                # judged: if the renamed file is FRESH, a racing breaker
                # unlinked the stale lock and a new committer re-created
                # it between our stat and our rename — restore it
                # no-clobber (link fails if the path was re-taken) and
                # back off.  This narrows the judge-then-break gap to
                # the microseconds between stat and rename AND requires
                # that exact interleaving to matter; the complete fix is
                # a fencing-capable store, out of scope for a lock file.
                try:
                    victim_fresh = (
                        time.time() - os.path.getmtime(doomed)
                        <= _COMMIT_LOCK_STALE_S
                    )
                except OSError:
                    victim_fresh = False
                if victim_fresh:
                    # no-clobber restore via O_CREAT|O_EXCL + copy, not
                    # os.link: hard links are unsupported or unreliable
                    # on some network/object-store mounts, and a
                    # swallowed link failure there would let this slow
                    # breaker delete a freshly re-acquired live lock —
                    # the exact race the restore exists to close (r11
                    # ADVICE).  O_EXCL is the same atomic primitive the
                    # lock acquisition itself relies on.
                    try:
                        rfd = os.open(
                            lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                        )
                        try:
                            with open(doomed, "rb") as src:
                                os.write(rfd, src.read())
                        finally:
                            os.close(rfd)
                    except OSError:
                        pass  # path re-taken meanwhile: can't restore
                try:
                    os.unlink(doomed)
                except OSError:
                    pass
                continue
            if time.monotonic() > deadline:
                raise IndexConflictError(
                    f"commit lock {lock} held for >30 s; a concurrent "
                    "committer is stuck or the lock is abandoned but "
                    "fresh — retry, or remove the lock if no writer is "
                    "alive"
                )
            time.sleep(0.05)
    try:
        if _resolve_index_dir(index_dir) != expected_live:
            raise IndexConflictError(
                f"index advanced past {os.path.basename(expected_live)} "
                f"during {action}; retry against the new live version"
            )
        tmp = os.path.join(
            index_dir, f"CURRENT.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(version)
        os.replace(tmp, os.path.join(index_dir, "CURRENT"))
    finally:
        os.close(fd)
        try:
            os.unlink(lock)
        except OSError:
            pass


def append_to_ivfpq_index(
    spark,
    index_dir: str,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    token: str | None = None,
) -> str:
    """Incremental index maintenance — the other half of the FAISS
    lifecycle: new corpus vectors arrive (a nightly ingest), and the
    index must absorb them WITHOUT retraining the model or rewriting
    the existing encoded data.

    The batch is assigned + PQ-encoded with the live index's FROZEN
    model (map-only, exactly the build path's math — deterministic, so
    an index built-then-appended is bit-identical to one built once
    over the union corpus with the same model; pinned by test).  The
    encoded batch lands in a fresh ``seg_<token>`` directory, also
    hive-partitioned by ``centroid_id``; then a new version directory
    commits a ``_segments.json`` manifest listing the parent version's
    segments plus the new one, plus a copy of ``_model.json``, and the
    ``CURRENT`` pointer swaps atomically LAST.

    Crash-consistency inherits the build's two-phase story: a crash
    before the pointer swap leaves the live version untouched (the
    orphan segment is invisible garbage); readers resolving ``CURRENT``
    see the old or the new version, never a half-append.  Concurrent
    appends are OCC-guarded like yamr manifest commits
    (sources/yamr_format.py): the commit re-reads ``CURRENT`` and
    raises :class:`IndexConflictError` if another writer advanced it
    since this append resolved its parent — losing a racing batch
    silently (last-swap-wins) would be data loss, the one thing an
    ingest must never do.  The re-read and the pointer swap run as one
    critical section under an exclusive ``O_CREAT|O_EXCL`` lock file
    (:func:`_locked_occ_commit`), making the commit a true
    compare-and-swap: of two racing appends exactly one commits and
    the other deterministically gets the conflict error.  Retry on
    conflict re-encodes against the new parent.  Older versions remain
    directly searchable (pass their dir) — manifest-level time travel.

    At 100 TB this is the operation that keeps nightly ANN refresh
    affordable: cost is ONE pass over the new batch (typically <<1% of
    the corpus); the alternative full rebuild re-encodes everything.
    Compaction (folding many small segments into one) reuses
    build_ivfpq_index over the manifest's union.

    ``token`` makes the append IDEMPOTENT for at-least-once callers
    (a ``foreachBatch`` micro-batch replayed after a crash): the
    segment and version names derive from the token instead of a
    random uuid, and if the LIVE manifest already records the token
    as consumed the call returns the live version unchanged — the
    Delta-style txn-version pattern, turning replay into exactly-once
    index maintenance.  The token must uniquely identify the batch
    CONTENT (use the checkpointed stream's batch_id); reusing a token
    for different data silently skips the append.  A replay that
    previously crashed between segment write and pointer swap simply
    rewrites the same segment dir (mode=overwrite) and commits.

    Consumed tokens SURVIVE compaction: the manifest carries a
    ``consumed_tokens`` set that :func:`compact_ivfpq_index` folds
    forward even though the token-named segments themselves are gone
    — without it, maintenance between a crashed batch's append commit
    and its checkpoint commit would make the replay re-append and
    duplicate the batch's vectors (r11 ADVICE; pinned by
    ``tests/test_streaming.py::test_compaction_between_crash_and_replay_keeps_exactly_once``).
    """
    import json
    import os
    import uuid

    centroids, books = load_ivfpq_model(spark, index_dir)
    if centroids is None or books is None:
        raise ValueError(
            "append requires a committed index with a _model.json sidecar"
        )
    live = _resolve_index_dir(index_dir)
    parent_segments = _segment_names(live, index_dir)
    consumed = _consumed_tokens(live, index_dir)
    if token is not None and token in consumed:
        return live  # this batch already committed: replay is a no-op

    # NULL-embedding rows can never be retrieved — same rule as the build
    batch = batch.where(F.col(vec_col).isNotNull())
    # fused assign+encode (see ivfpq_topk): one map-only pass over the
    # batch, no batch self-join before the segment write
    encoded = _nearest_centroids(
        batch.withColumn("pq_codes", _pq_codes_expr(vec_col, books)),
        id_col,
        vec_col,
        centroids,
        1,
        passthrough=["pq_codes"],
    ).select(F.col("__rid").alias("neighbor_id"), "pq_codes", "centroid_id")
    seg_name = f"seg_{token}" if token is not None else f"seg_{uuid.uuid4().hex[:12]}"
    (
        encoded.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(index_dir, seg_name))
    )

    version = f"v_{token}" if token is not None else f"v_{uuid.uuid4().hex[:12]}"
    vdir = os.path.join(index_dir, version)
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(live, "_model.json"), encoding="utf-8") as fh:
        model = fh.read()
    with open(os.path.join(vdir, "_model.json"), "w", encoding="utf-8") as fh:
        fh.write(model)
    with open(
        os.path.join(vdir, "_segments.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(
            {
                "segments": parent_segments + [seg_name],
                "consumed_tokens": sorted(
                    consumed | ({token} if token is not None else set())
                ),
            },
            fh,
        )
    # OCC commit: the parent this append encoded against must still be
    # live — silently last-swap-winning over a racing append would drop
    # its batch from the lineage (its segment would be orphaned).  The
    # re-read + swap run under an exclusive lock (_locked_occ_commit)
    # so two racing appends can't both pass the check.
    _locked_occ_commit(index_dir, live, version, "append")
    return vdir


def compact_ivfpq_index(spark, index_dir: str) -> str:
    """Fold a many-segment index back into one segment — the other
    bookend of the append lifecycle: nightly appends accumulate small
    segments (more files to list, one pruned scan branch each);
    compaction rewrites the UNION of the live version's segments as a
    single hive-partitioned segment under the same frozen model, and
    commits it with the same OCC-guarded pointer swap.  Pure data
    movement: no retraining, no re-encoding (codes are copied), so
    search results are bit-identical before/after (pinned by test).

    At 100 TB this is the periodic maintenance job (weekly compact
    after daily appends); old versions' segments become collectable
    garbage once no reader pins them — the vacuum story mirrors
    yamr_format's.

    The compacted manifest CARRIES FORWARD every consumed append token
    (explicit ``consumed_tokens`` plus the tokens implied by the
    folded segments' names): a streaming batch whose append committed
    but whose checkpoint didn't (crash window) replays AFTER
    maintenance, and its token check must still hit the no-op branch
    — otherwise compaction would turn the replay into a duplicate
    append (r11 ADVICE, medium)."""
    import json
    import os
    import uuid

    live = _resolve_index_dir(index_dir)
    consumed = _consumed_tokens(live, index_dir)
    from functools import reduce

    union = reduce(DataFrame.unionByName, _index_segments(spark, index_dir))
    seg_name = f"seg_{uuid.uuid4().hex[:12]}"
    (
        union.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(index_dir, seg_name))
    )
    version = f"v_{uuid.uuid4().hex[:12]}"
    vdir = os.path.join(index_dir, version)
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(live, "_model.json"), encoding="utf-8") as fh:
        model = fh.read()
    with open(os.path.join(vdir, "_model.json"), "w", encoding="utf-8") as fh:
        fh.write(model)
    with open(
        os.path.join(vdir, "_segments.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(
            {"segments": [seg_name], "consumed_tokens": sorted(consumed)}, fh
        )
    _locked_occ_commit(index_dir, live, version, "compaction")
    return vdir


def vacuum_ivfpq_index(
    index_dir: str,
    keep_versions: int = 2,
    retention_seconds: float = 3600.0,
) -> dict:
    """Retire old index versions and delete segments no longer
    reachable from any retained version — the Delta-VACUUM analog for
    the segmented index (same contract as ``yamr_format.vacuum``).

    Keeps the LIVE version plus the ``keep_versions`` newest other
    version dirs; every segment referenced by ANY retained version
    survives, everything else (orphan ``seg_*`` from crashed or
    OCC-lost appends, pre-compaction segments past retention) is
    deleted.  The live version is always retained, so current readers
    never break — only time travel beyond the window is given up.

    ``retention_seconds`` additionally protects anything whose mtime is
    within the window: an in-flight append lands its segment BEFORE the
    pointer swap publishes it, so a fresh not-yet-referenced segment is
    indistinguishable from garbage by reachability alone — age is the
    tiebreaker.  Pass ``0`` only when no concurrent writer can exist.
    """
    import os
    import shutil
    import time

    live = os.path.abspath(_resolve_index_dir(index_dir))
    entries = sorted(os.listdir(index_dir))
    versions = [
        e
        for e in entries
        if e.startswith("v_") and os.path.isdir(os.path.join(index_dir, e))
    ]
    others = sorted(
        (e for e in versions if os.path.abspath(os.path.join(index_dir, e)) != live),
        key=lambda e: os.path.getmtime(os.path.join(index_dir, e)),
        reverse=True,
    )
    retained = [os.path.basename(live)] + others[:keep_versions]
    reachable: set[str] = set(retained)
    for v in retained:
        vdir = os.path.join(index_dir, v)
        for s in _segment_names(vdir, index_dir):
            reachable.add(s.split(os.sep)[0])
    now = time.time()
    removed: list[str] = []
    for e in entries:
        if not (e.startswith("v_") or e.startswith("seg_")):
            continue  # CURRENT, tmp files, foreign content: untouched
        if e in reachable:
            continue
        p = os.path.join(index_dir, e)
        if now - os.path.getmtime(p) < retention_seconds:
            continue  # possibly an in-flight writer's segment
        shutil.rmtree(p, ignore_errors=True)
        removed.append(e)
    return {"retained": sorted(reachable), "removed": removed}


def _segment_names(version_dir: str, index_dir: str) -> list[str]:
    """Segment directory names (relative to ``index_dir``) making up a
    version: its ``_segments.json`` manifest, or — for a version
    written directly by build_ivfpq_index — the version dir itself."""
    import json
    import os

    try:
        with open(
            os.path.join(version_dir, "_segments.json"), encoding="utf-8"
        ) as fh:
            return list(json.load(fh)["segments"])
    except FileNotFoundError:
        return [os.path.relpath(version_dir, index_dir)]


def _consumed_tokens(version_dir: str, index_dir: str) -> set[str]:
    """Append idempotency tokens a version has already absorbed: the
    manifest's explicit ``consumed_tokens`` (how the record survives
    compaction folding the token-named segments away) UNIONED with the
    tokens implied by the segment names themselves (pre-
    ``consumed_tokens`` manifests, and build-layout versions).
    uuid-named segments contribute their hex — harmless, a checkpoint
    batch token never collides with a fresh 12-hex uuid."""
    import json
    import os

    try:
        with open(
            os.path.join(version_dir, "_segments.json"), encoding="utf-8"
        ) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = {}
    toks = set(manifest.get("consumed_tokens", []))
    for s in _segment_names(version_dir, index_dir):
        base = os.path.basename(s)
        if base.startswith("seg_"):
            toks.add(base[4:])
    return toks


def _index_data_paths(index_dir: str) -> list[str]:
    """Parquet roots holding a version's encoded vectors.  Manifest
    segment names resolve against the INDEX ROOT — the version dir's
    parent — which is ``index_dir`` itself when resolution went through
    ``CURRENT``, and the passed dir's parent when a versioned dir is
    addressed directly (manifest time travel)."""
    import os

    live = _resolve_index_dir(index_dir)
    names = _segment_names(live, index_dir)
    if names == [os.path.relpath(live, index_dir)]:
        return [live]  # build-version layout: the dir is the data
    root = os.path.dirname(os.path.abspath(live))
    return [os.path.join(root, s) for s in names]


def _index_segments(spark, index_dir: str) -> list[DataFrame]:
    """Each data segment of an index's live version, read with the
    segment schema its build recorded in ``_model.json``: a segment
    written from zero rows holds no data files, and Spark cannot infer
    a schema from none.  An index without the record (no sidecar, or
    written before the record) is read with inference."""
    import json
    import os

    path = os.path.join(_resolve_index_dir(index_dir), "_model.json")
    try:
        with open(path, encoding="utf-8") as fh:
            schema = json.load(fh).get("segment_schema")
    except FileNotFoundError:
        schema = None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return [reader.parquet(p) for p in _index_data_paths(index_dir)]


def load_ivfpq_model(spark, index_dir: str):
    """Load the persisted model halves of a committed IVF-PQ index:
    ``(centroids DataFrame, books)`` reconstructed from the versioned
    dir's ``_model.json`` — no corpus scan, no training.  The centroid
    frame matches :func:`ivf_centroids`'s schema exactly, so every
    probe/search path accepts it unchanged.  Returns ``(None, None)``
    for pre-sidecar index layouts (callers fall back to supplying the
    model themselves)."""
    import json
    import os

    path = os.path.join(_resolve_index_dir(index_dir), "_model.json")
    try:
        with open(path, encoding="utf-8") as fh:
            model = json.load(fh)
    except FileNotFoundError:
        return None, None
    cent = local_relation(
        spark,
        [(cid, vec) for cid, vec in model["centroids"]],
        "centroid_id bigint, __centv array<double>",
    )
    return cent, model["books"]


def _resolve_index_dir(index_dir: str) -> str:
    """Follow the ``CURRENT`` pointer when present (two-phase-committed
    index); fall back to treating ``index_dir`` as the data directory
    itself (pre-pointer layouts, or a directly-passed versioned dir)."""
    import os

    cur = os.path.join(index_dir, "CURRENT")
    try:
        with open(cur, encoding="utf-8") as fh:
            return os.path.join(index_dir, fh.read().strip())
    except FileNotFoundError:
        return index_dir


def _sized_nprobe(nlist: int, probe_fraction: float | None) -> int:
    """Fraction-relative probe count: ``min(nlist, max(4,
    ceil(fraction * nlist)))`` with ``fraction`` defaulting to
    ``DEFAULT_PROBE_FRACTION``.  The floor of 4 keeps tiny indexes
    exhaustive-ish; the min clamps over-1 fractions to exhaustive."""
    import math

    if probe_fraction is None:
        probe_fraction = DEFAULT_PROBE_FRACTION
    if not 0.0 < probe_fraction:
        raise ValueError(f"probe_fraction must be > 0, got {probe_fraction}")
    return min(nlist, max(4, math.ceil(probe_fraction * nlist)))


def search_ivfpq_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
    books: list[list[list[float]]] | None = None,
    k: int = 10,
    nprobe: int | None = None,
    probe_fraction: float | None = None,
) -> DataFrame:
    """Search a persisted IVF-PQ index: probe a subset of cells per
    query, rank the cell-mates by ADC lookup distance.  Identical
    results to :func:`ivfpq_topk` with the same model (pinned by test)
    — but the corpus is never rescanned and the probe reads ONLY the
    probed cells' files.

    ``probe_fraction`` sizes the probe RELATIVE to the index instead
    of absolutely: ``nprobe = max(4, ceil(probe_fraction * nlist))``,
    with ``nlist`` read from the index's own centroid count.  It is
    the DEFAULT (``DEFAULT_PROBE_FRACTION`` = 0.025, i.e. 2.5% of
    cells) when neither knob is passed: a fixed ``nprobe`` silently
    probes an ever-smaller fraction as the index grows (``nlist ∝
    sqrt(n)`` under the auto-sizing policy) — fine on well-separated
    geometry (measured recall-flat 0.900 from 2.5% to 25% probed on
    the benchmark corpus, BASELINE.md r10), but on anisotropic /
    overlapping clusters recall slopes with the probed fraction
    (measured: BASELINE.md r11 sloped-recall table), so the default
    pins the FRACTION, not the count.  The floor of 4 keeps tiny
    indexes exhaustive-ish; ``probe_fraction >= 1.0`` probes every
    cell (exhaustive, equals the unpersisted search).  Passing
    ``nprobe`` explicitly opts back into an absolute probe count;
    when ``probe_fraction`` is set, ``nprobe`` is ignored.

    ``centroids``/``books`` default to the index's own persisted model
    (:func:`load_ivfpq_model`): the cold-session search path touches
    the query frame and the probed index files ONLY — no corpus scan,
    no retraining (pinned by test).  Passing a model explicitly stays
    supported for pre-sidecar layouts and what-if probing.

    The probed cell set (|queries| x nprobe ids, KB-scale) is collected
    driver-side and planted as a static ``isin`` on the partition
    column, so the scan shows ``PartitionFilters`` — deterministic
    file-level pruning, no reliance on runtime DPP.
    """
    if centroids is None or books is None:
        side_cent, side_books = load_ivfpq_model(spark, index_dir)
        centroids = centroids if centroids is not None else side_cent
        books = books if books is not None else side_books
        if centroids is None or books is None:
            raise ValueError(
                "index has no persisted _model.json sidecar; pass "
                "centroids and books explicitly"
            )
    if probe_fraction is not None or nprobe is None:
        # centroids is the KB-scale model frame; counting it is free
        nprobe = _sized_nprobe(centroids.count(), probe_fraction)
    probe_plan = _nearest_centroids_expr(
        queries, id_col, vec_col, centroids, nprobe
    ).select(
        F.col("__rid").alias("query_id"), F.col("__v").alias("__qv"), "centroid_id"
    )
    # ONE probe execution: collect the |queries| x nprobe probe rows
    # (query-batch-scale — the same KB/MB bound as the cell-id collect
    # this extends) and replant them as a local relation.  Previously
    # the probe plan ran twice — once for the cell collect, once inside
    # the join — doubling the work, and a NONDETERMINISTIC query source
    # (sample/limit) could yield a join-time probe set disagreeing with
    # the isin(cells) pruning filter, silently dropping candidates.
    prows = probe_plan.collect()
    cells = sorted({int(r["centroid_id"]) for r in prows})
    probes = local_relation(spark, prows, probe_plan.schema)
    # one pruned scan per manifest segment (each segment is its own
    # hive-partitioned parquet root, so PartitionFilters prune per
    # branch; a single multi-root read would confuse partition
    # discovery's common-base-path inference), unioned lazily
    from functools import reduce

    segs = [
        seg.where(F.col("centroid_id").isin(cells))
        for seg in _index_segments(spark, index_dir)
    ]
    idx = reduce(DataFrame.unionByName, segs)
    scored = (
        idx.join(
            F.broadcast(probes.withColumn("__lut", _adc_lut(books))),
            "centroid_id",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", _adc_dist_from_lut(len(books)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("qrank", F.row_number().over(w).cast("bigint"))
        .where(F.col("qrank") <= k)
        .select("query_id", "neighbor_id", "adist", "qrank")
    )
