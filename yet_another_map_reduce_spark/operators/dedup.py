"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its data model is opaque lines); mandated
by the north star.  All variants are either pure DataFrame expressions
(whole-stage codegen) or vectorized Arrow kernels (``mapInPandas`` over
JVM-tokenized arrays — never row-at-a-time Python UDFs), so they scale
linearly:

- exact:        hash-groupBy on normalized text (one shuffle on a hash,
                never on the full document body);
- minhash LSH:  shingle → k min-hashes → b bands → self-join on band
                signature.  Candidate generation is an equi-join on
                (band, band_hash), NOT an O(n²) cross join;
- simhash:      64-bit sign-aggregated fingerprint; near-dups share the
                fingerprint (or a band of it);
- ngram jaccard: exact verification on LSH candidates;
- embedding:    cosine near-dup, blocked to avoid the cross product.

Hashing uses the portable md5-based ``md5_hash64`` so every stage is
reproducible in an ANSI-SQL oracle (see functions/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.caching import tracked_cache
from yet_another_map_reduce_spark.operators.quantize import round_half_up
from yet_another_map_reduce_spark.plans import observe_metrics
from yet_another_map_reduce_spark.functions import (
    md5_hash64,
    normalize_text,
    shingles,
    tokens,
)


def _md5_ha_hb(grams: list[bytes]):
    """Vectorized md5 split into the (h_a, h_b) double-hash family the
    whole repo uses (``md5_hash64`` discipline, exact int64):

        h_a = first 15 hex digits  = bytes[0:8] big-endian >> 4   (60 bits)
        h_b = hex digits 16..23    = (b7 & 0xF) << 28 | b8..b11 >> 4

    Identical bit-for-bit to the expression form
    ``conv(substring(md5(g),1,15),16,10)`` / ``conv(substring(md5(g),16,8),16,10)``
    — md5 is md5 in any engine, and the nibble arithmetic above is just
    the hex-substring reading of the same digest.
    """
    import hashlib

    import numpy as np

    if not grams:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    dig = b"".join(hashlib.md5(g).digest() for g in grams)
    arr = np.frombuffer(dig, dtype=">u8").reshape(-1, 2)
    ha = (arr[:, 0] >> np.uint64(4)).astype(np.int64)
    hb = (
        ((arr[:, 0] & np.uint64(0xF)) << np.uint64(28))
        | (arr[:, 1] >> np.uint64(36))
    ).astype(np.int64)
    return ha, hb


def _doc_grams(toks, k: int) -> list[bytes]:
    """UTF-8 word-k-gram byte strings of one tokenized document —
    exactly ``concat_ws(" ", t_i..t_{i+k-1})`` per complete window."""
    ts = [t.encode("utf-8") for t in toks]
    return [b" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)]


def _tokenized(
    df: DataFrame, text_col: str, id_col: str, spread: bool = True
) -> DataFrame:
    """(id, token array) with tokenization evaluated ONCE per row in
    codegen — the projection feeding every gram kernel.  NULL text stays
    a NULL array (kernels map it to the marker/skip conventions).

    The input is adaptively spread first (r16): the gram kernels are
    the CPU-dense half of every dedup/text path, and an unsplittable
    small scan otherwise feeds them to one task (guide §2.5; the spread
    is a guarded no-op whenever input splits already exceed cores).
    Callers whose input already went through an exchange (join outputs)
    pass ``spread=False`` — those are exchange-parallel already and the
    guard's physical-planning probe is pure overhead there."""
    from yet_another_map_reduce_spark.partitioning import spread_small

    base = spread_small(df, id_col) if spread else df
    return base.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    )


def gram_hash_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Per-document word-k-gram multiplicities via ONE map-only Arrow
    kernel: ``(id, g, c)`` with ``g = md5(shingle)`` hex, one row per
    distinct gram of the document and ``c`` its count there.  A doc with
    no complete k-gram (NULL text included) keeps one ``(id, NULL, 0)``
    marker row, so ``sum(c)`` folds it to a zero-count row.

    Replaces the ``explode(shingles) → md5 → groupBy`` chain for
    boilerplate stats: per-document gram work is local by definition,
    so the per-doc count shuffle disappears (guide §2.4).  Bit-identical
    keys: the kernel md5s the same UTF-8 bytes ``shingles`` joins.  The
    kernel stays because no built-in counts per-array multiplicities in
    linear time; distinct keys alone are the built-in
    ``array_distinct(transform(shingles, md5))`` (``text.decontaminate``).
    """
    import pandas as pd

    schema = f"__id {df.schema[id_col].dataType.simpleString()}, g string, c bigint"

    def gen(batches):
        import hashlib

        for pdf in batches:
            out_id, out_g, out_c = [], [], []
            for did, toks in zip(pdf["__id"], pdf["__toks"]):
                grams = _doc_grams(toks, k) if toks is not None else []
                if not grams:
                    out_id.append(did)
                    out_g.append(None)
                    out_c.append(0)
                    continue
                agg: dict[bytes, int] = {}
                for g in grams:
                    agg[g] = agg.get(g, 0) + 1
                for g, c in agg.items():
                    out_id.append(did)
                    out_g.append(hashlib.md5(g).hexdigest())
                    out_c.append(c)
            yield pd.DataFrame(
                {"__id": out_id, "g": out_g, "c": pd.array(out_c, dtype="Int64")}
            )

    return (
        _tokenized(df, text_col, id_col)
        .mapInPandas(gen, schema)
        .withColumnRenamed("__id", id_col)
    )


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, k: int, spread: bool = True
) -> DataFrame:
    """(id, distinct shingle strings) per document — the per-doc shingle
    SET as one array row, ``array_distinct(shingles(toks, k))`` in
    codegen (no explode, no collect_set shuffle, no Python worker).  Set
    membership is what downstream ``array_intersect`` / ``array_union``
    sizes consume, so element order is free.  One row per input row: the
    set is empty for a doc with fewer than ``k`` tokens, and for NULL
    text it is NULL under ANSI mode (the Spark 4 default), empty
    otherwise (see ``functions.shingles``).  (Dropping those rows would
    cost a second tokenization: Catalyst pushes a filter below the
    tokenizer projection by inlining it.)

    A/B against the ``mapInPandas`` kernel this expression replaced
    (that kernel emitted the same sets, and no row for a doc without a
    k-gram; 10 interleaved pairs, sf0.1, local[4] on 4 shared
    vCPUs, medians): ``dedup_ngram_jaccard`` 3.20 → 3.02 s and
    ``dedup_threshold_sweep`` 3.64 → 3.48 s, each won 7/10 pairs and
    within the kernel's own spread (IQR 0.47 s) — neutral.
    """
    return _tokenized(df, text_col, id_col, spread=spread).select(
        F.col("__id").alias(id_col),
        F.array_distinct(shingles("__toks", k)).alias("__set"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id document per distinct normalized text.

    Shuffles on md5(normalized text) — a fixed-width key — instead of the
    document body, which matters when documents are megabytes.
    """
    return (
        df.withColumn("__fp", F.md5(normalize_text(text_col)))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def keep_best_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Policy dedup: among exact duplicates (same normalized text), keep
    the row with the highest ``score_col`` — NULL and NaN scores both
    lose to any real score — ties → lowest id.

    The usual refinement of exact_dedup once a quality signal exists:
    dedup decisions should keep the *best* copy, not an arbitrary one.

    Scale shape (the 100× sweep caught the previous
    ``row_number()``-over-fingerprint window at 35×): ``min_by`` over
    fingerprint groups — a declarative aggregate with map-side
    partials, so each input partition collapses its duplicate classes
    to one candidate BEFORE the exchange and nothing is sorted, where
    the window form shuffled and sorted every row, document text
    included.  ``payload_cols`` limits what rides in the candidate
    struct (default: all columns, the full-row contract); callers that
    only need ids/scores should pass the narrow list so the one
    exchange carries fixed-width rows, the ``exact_dedup`` shape.
    """
    cols = list(payload_cols) if payload_cols is not None else list(df.columns)
    pay = F.struct(*[F.col(c) for c in cols])
    # min of (-score, id): highest score, then lowest id.  NULL and NaN
    # scores BOTH map to +inf so they rank LAST — "no real score loses
    # to any real score" as one total policy (ties among them fall to
    # the id tiebreak).  NULL matches the desc-NULLS-LAST ordering of
    # the window form this replaced; NaN is a DELIBERATE divergence
    # from it (Spark sorts NaN greatest, so score-desc put NaN FIRST —
    # an undefined score winning a quality-keep is the wrong policy,
    # and unmapped -NaN would stay NaN and sort last here anyway, but
    # silently; the explicit mapping makes the choice visible and the
    # ordering key total).
    neg_score = F.when(
        F.col(score_col).isNull() | F.isnan(F.col(score_col).cast("double")),
        F.lit(float("inf")),
    ).otherwise(-F.col(score_col).cast("double"))
    order = F.struct(neg_score.alias("__ns"), F.col(id_col).alias("__id"))
    return (
        df.groupBy(F.md5(normalize_text(text_col)).alias("__fp"))
        .agg(F.min_by(pay, order).alias("__w"))
        .select("__w.*")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    shingle_k: int = 3,
) -> DataFrame:
    """id → array of ``num_hashes`` min-hash values over word-shingles.

    Min-wise hashing per seed: min over shingles of md5(seed:shingle).
    Documents with < shingle_k words (NULL text included) get no row:
    they can't be meaningfully near-dup'd by shingling, and an empty or
    NULL signature would give band keys that collide universally.

    ONE map-only Arrow kernel over the JVM-tokenized corpus — per
    document, md5 every k-gram window and fold the ``num_hashes`` affine
    minima locally (r15, guide §2.4/§4.2: a per-document aggregate needs
    NO exchange; the previous posexplode → window(lead) → groupBy chain
    shuffled the whole token stream twice to compute a value that never
    leaves its row).  Values equal the SQL reading of the same digests
    (``conv`` of md5 hex substrings): same UTF-8 gram bytes, same md5,
    same h_a + i*h_b int64 arithmetic (see :func:`_md5_ha_hb`), checked
    against a pure-Python ``hashlib`` reference by the gram-kernel test.

    Negative result, kernel kept: every built-in form over ``shingles``
    gave identical signatures and ran slower (sf0.1 documents, local[4]
    on 4 shared vCPUs, 8 interleaved rounds, medians): this kernel
    0.63 s; one ``aggregate`` fold carrying all minima 0.69 s; per-seed
    ``array_min`` over a materialised ``(h_a, h_b)`` array 0.80 s.  The
    hash array referenced once inside the per-seed lambda took 2.8 s
    (4 runs, timed apart): CollapseProject inlines a singly-referenced
    array into the lambda, so md5 ran once per seed.
    """
    # One md5 per shingle; the i-th hash family is the affine combination
    # h_a + i*h_b (Kirsch-Mitzenmacher double hashing) — k families for
    # the price of one digest.  h_a uses 60 bits, h_b is folded to 32,
    # so h_a + 11*h_b < 2^61 never overflows int64 in any engine.
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    seeds = np.arange(num_hashes, dtype=np.int64)[None, :]

    def gen(batches):
        for pdf in batches:
            out_id, out_sig = [], []
            for did, toks in zip(pdf["__id"], pdf["__toks"]):
                if toks is None:
                    continue
                grams = _doc_grams(toks, shingle_k)
                if not grams:
                    continue
                ha, hb = _md5_ha_hb(grams)
                mins = (ha[:, None] + seeds * hb[:, None]).min(axis=0)
                out_id.append(did)
                out_sig.append(mins.tolist())
            yield pd.DataFrame(
                {
                    "__id": out_id,
                    # explicit object Series: pandas turns a list
                    # column whose cells all share one length into a
                    # 2D ndarray, which Arrow cannot convert to a list
                    "signature": pd.Series(out_sig, dtype=object),
                }
            )

    return (
        _tokenized(df, text_col, id_col)
        .mapInPandas(gen, f"__id {id_t}, signature array<bigint>")
        .withColumnRenamed("__id", id_col)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    two docs are candidates iff some band is identical.  Join key is
    (band_index, band_signature) — an equi-join Spark executes as a
    shuffled hash join, linear in data size.  Returns distinct pairs
    (id_a < id_b).

    ``max_bucket_size`` caps the self-join's blow-up on degenerate
    buckets: on a real corpus, boilerplate (license headers, templated
    pages) collapses millions of documents onto one band signature, and
    a single join key producing n²/2 pairs is a skew no salting can fix
    (the output itself is quadratic).  Buckets above the cap are
    *excluded from candidate generation* — documents that collide on a
    full band at that multiplicity are exact-dup territory, which
    :func:`exact_dedup` handles in one linear groupBy.  Pass ``None``
    to disable the cap.  ``signatures`` lets callers that already
    computed :func:`minhash_signatures` (e.g. a pipeline that also
    verifies with :func:`ngram_jaccard_pairs`) reuse the work.
    """
    groups = _lsh_buckets(
        df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size, signatures
    )
    return (
        groups.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def _lsh_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    max_bucket_size: int | None,
    signatures: DataFrame | None,
) -> DataFrame:
    """Shared LSH bucketing for :func:`minhash_lsh_pairs` /
    :func:`minhash_lsh_edges`: one shuffle (groupBy on the bucket key)
    instead of shuffling the banded relation twice for a self-join —
    collect ids per (band, band_sig) bucket, drop singleton and
    oversized buckets BEFORE any pair exists.  Per-group memory is
    bounded by max_bucket_size, and the n² of a degenerate bucket never
    materializes anywhere in the plan."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("_", *[F.element_at("signature", b * rows + r + 1) for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    groups = (
        banded.groupBy("band", "band_sig")
        .agg(F.collect_list(F.col(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    if max_bucket_size is not None:
        groups = groups.where(F.size("__ids") <= max_bucket_size)
    return groups


def minhash_lsh_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Connectivity-preserving LSH edge list: per bucket, STAR edges
    from the lowest id to every other member — for consumers that feed
    a connected-components pass, where the clique pair list of
    :func:`minhash_lsh_pairs` is pure waste.

    Within a bucket, the star (hub = min id) connects exactly the same
    vertex set the clique does, so the union over all buckets has
    IDENTICAL connected components (any clique path a—b factors through
    each bucket's hub) — but a bucket of m members emits m-1 edges
    instead of m(m-1)/2 pairs.  The difference is what makes near-dup
    clustering survive duplicate-heavy corpora: measured at the 100×
    replica (every document duplicated 100-fold — band buckets 100× the
    size), components-over-pairs blew past a 180 s budget while
    components-over-star-edges completes in the corpus-linear time the
    CC contraction is designed for.  Use the pair form only when the
    pairs themselves are the product (Jaccard verification, similarity
    reporting); use this form to cluster."""
    groups = _lsh_buckets(
        df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size, signatures
    )
    return (
        groups.select(
            F.array_min("__ids").alias("id_a"), F.explode("__ids").alias("id_b")
        )
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard.

    The classic two-stage near-dup pipeline: cheap banded-LSH candidate
    generation, then exact ``|A∩B| / |A∪B|`` only on candidates.

    Signatures come from the map-only minhash kernel (r15 — the former
    shared-``localCheckpoint`` exploded-shingle relation existed to
    amortize the window-exchange shingling both stages paid; with
    per-doc kernels neither stage shuffles tokens at all, so there is
    nothing left to checkpoint) and verification sets from
    :func:`shingle_sets` (per-doc local, replacing the corpus-wide
    ``collect_set`` shuffle of representative shingles).

    Verification is per CONTENT-CLASS pair, not per id pair: exact
    duplicates (same normalized-text fingerprint) have identical
    shingle sets, so the set intersection/union runs once per distinct
    (class_a, class_b) against one representative's set each, and the
    result joins back onto the id-level candidates.  Bit-identical
    output (identical sets ⇒ identical Jaccard; a same-class pair
    scores exactly 1.0), but on a duplicate-heavy corpus the expensive
    array ops collapse from O(candidate id pairs) — quadratic in
    duplicate mass; the 100× replica timed the per-id form out at
    150 s — to O(distinct class pairs), and the id-pair relation only
    ever shuffles fixed-width (id, class) rows, never shingle arrays.
    The pair ENUMERATION itself stays quadratic in duplicate mass by
    contract (the pairs are the product); cluster consumers should use
    ``minhash_lsh_edges`` instead.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    cands = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size, signatures=sig
    )
    cls = df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("__cls"))
    cands2 = cands.join(
        cls.select(F.col(id_col).alias("id_a"), F.col("__cls").alias("__ca")), "id_a"
    ).join(
        cls.select(F.col(id_col).alias("id_b"), F.col("__cls").alias("__cb")), "id_b"
    )
    reps = cls.groupBy("__cls").agg(F.min(id_col).alias(id_col))
    # representative docs only reach the set kernel (dup-heavy corpora:
    # reps ≪ docs); the id join moves doc text once, where the previous
    # shape shuffled the exploded shingle relation — strictly heavier
    rsets = (
        shingle_sets(
            df.join(reps.select(id_col), id_col),
            text_col,
            id_col,
            shingle_k,
            spread=False,  # the reps join output is exchange-parallel
        )
        .join(reps, id_col)
        .select("__cls", "__set")
    )
    cpairs = cands2.select("__ca", "__cb").distinct()
    verified = (
        cpairs.join(
            rsets.select(F.col("__cls").alias("__ca"), F.col("__set").alias("set_a")),
            "__ca",
        )
        .join(
            rsets.select(F.col("__cls").alias("__cb"), F.col("__set").alias("set_b")),
            "__cb",
        )
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn("uni", F.size(F.array_union("set_a", "set_b")))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .select("__ca", "__cb", "jaccard")
    )
    return (
        cands2.join(verified, ["__ca", "__cb"])
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Each token hashes to 64 bits; fingerprint bit i is 1 iff more tokens
    have bit i set than unset.  Expressed as explode → per-bit vote sums
    → bit reassembly; one shuffle on doc id, all JVM expressions.
    """
    if bits > 60:
        bits = 60  # md5_hash64 yields 60 usable bits
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("__tok"),
    )
    hashed = tok.withColumn("__h", md5_hash64("__tok"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(bits)
        ]
    )
    fp = votes.select(
        F.col(id_col),
        sum(
            [F.when(F.col(f"__v{i}") > 0, F.lit(2 ** i).cast("bigint")).otherwise(F.lit(0).cast("bigint")) for i in range(bits)],
            F.lit(0).cast("bigint"),
        ).alias("simhash"),
    )
    return fp


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``.

    The exact-collision groupBy misses hamming-1..3 near-dups entirely;
    this is the banded fix (same trick as MinHash-LSH): split the
    fingerprint into ``bands`` contiguous bit bands — by pigeonhole, two
    fingerprints within hamming distance ``bands - 1`` share at least
    one unchanged band — generate candidates per band with the capped
    grouped-pair expansion, then verify ``bit_count(a XOR b)`` exactly.
    With the default 4 bands the candidate stage is lossless for
    ``max_hamming ≤ 3``; raise ``bands`` for larger radii.

    One shuffle for fingerprints, one for band grouping, and the XOR
    verification touches only candidates — never all pairs.
    """
    fp = simhash(df, text_col, id_col, bits)
    bits = min(bits, 60)  # simhash() folds >60 to the 60 usable bits
    return banded_hamming_pairs(
        fp,
        hash_col="simhash",
        id_col=id_col,
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def _hamming_band_groups(
    fp: DataFrame, hash_col: str, id_col: str, bits: int, bands: int
) -> DataFrame:
    """Shared banding stage for :func:`banded_hamming_pairs` and
    :func:`banded_hamming_capped_buckets`: explode each hash into
    ``bands`` (band, band_key) rows (last band absorbs the remainder
    when ``bands`` doesn't divide ``bits``), group, and keep buckets
    of size ≥ 2 as ``(band, band_key, __g: array<struct<id, h>>)``."""
    if bands > bits:
        raise ValueError(
            f"bands={bands} > bits={bits}: every band must cover at least "
            "one real hash bit, or empty bands collide universally"
        )
    width = bits // bands

    def band_val(b: int):
        col = F.shiftrightunsigned(F.col(hash_col), b * width)
        if b < bands - 1:
            col = col.bitwiseAND(F.lit((1 << width) - 1))
        return col

    banded = fp.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(F.array(*[band_val(b) for b in range(bands)])).alias(
            "band", "band_key"
        ),
    )
    return (
        banded.groupBy("band", "band_key")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
            ).alias("__g")
        )
        .where(F.size("__g") >= 2)
    )


def banded_hamming_capped_buckets(
    fp: DataFrame,
    hash_col: str,
    id_col: str,
    bits: int,
    bands: int,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """The exclusion report for :func:`banded_hamming_pairs`' bucket
    cap — the no-silent-caps discipline (every candidate pair the cap
    suppressed collides in one of THESE buckets): the (band, band_key)
    buckets whose size exceeds ``max_bucket_size``, with their sizes
    and lowest member id as an exemplar.  Empty result == the cap
    dropped nothing and the pigeonhole guarantee held in full.

    Run it alongside the pairs call (same banding plan, same single
    shuffle shape) whenever ``max_bucket_size`` is set: a non-empty
    report on an image/video corpus usually means degenerate media
    (solid frames, test cards) that exact-dedup should absorb first —
    the same boilerplate story as the MinHash-LSH cap
    (:func:`minhash_lsh_pairs`)."""
    return (
        _hamming_band_groups(fp, hash_col, id_col, bits, bands)
        .where(F.size("__g") > max_bucket_size)
        .select(
            "band",
            F.col("band_key").cast("bigint").alias("band_key"),
            F.size("__g").cast("bigint").alias("n_ids"),
            F.array_min(F.col("__g.id")).alias("example_id"),
        )
    )


def banded_hamming_pairs(
    fp: DataFrame,
    hash_col: str,
    id_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """The shared banded-Hamming candidate/verify pipeline behind both
    :func:`simhash_near_dup_pairs` (text) and
    ``multimodal.image_near_dup_pairs`` (perceptual image hashes):
    split each ``bits``-wide hash into ``bands`` contiguous bit bands
    (the LAST band absorbs the remainder when ``bands`` doesn't divide
    ``bits``), generate candidates per band collision with the capped
    grouped-pair expansion, verify ``bit_count(XOR)`` exactly.
    Pigeonhole: lossless for hamming ≤ ``bands - 1``.

    One fixed-width-key shuffle for band grouping; hash payloads are
    8 bytes, so the original records (documents, image bytes) never
    travel.  Returns ``(id_a, id_b, hamming bigint)``.

    Cross-band duplicates are eliminated at GENERATION when no bucket
    cap is set (r16): a pair colliding in several bands is emitted only
    from its FIRST colliding band (a per-pair bit test on the XOR —
    band ``j`` collides iff the band-``j`` bits of ``a.h XOR b.h`` are
    zero), so every candidate pair is globally unique by construction
    and the former ``.distinct()`` — a full exchange of the candidate
    set, up to ``bands``× the unique pairs, plus its dedup CPU —
    disappears (guide §2.3/§2.4).  Same rows: within one band a pair
    can only meet in one bucket, and across bands exactly one band is
    "first".  With ``max_bucket_size`` the rule would be WRONG — a pair
    whose first colliding band sat in a capped (dropped) bucket must
    still surface from a later uncapped band — so the capped path keeps
    the ``.distinct()``.
    """
    if max_hamming > bands - 1:
        raise ValueError("bands must exceed max_hamming (pigeonhole guarantee)")
    width = bits // bands
    groups = _hamming_band_groups(fp, hash_col, id_col, bits, bands)
    xor = F.col("a.h").bitwiseXOR(F.col("b.h"))
    if max_bucket_size is not None:
        groups = groups.where(F.size("__g") <= max_bucket_size)
        pairs = (
            groups.select(F.explode("__g").alias("a"), "__g")
            .select("a", F.explode("__g").alias("b"))
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(xor).alias("hamming"),
            )
            .distinct()
        )
    else:

        def _band_zero(xor_col, j: int):
            col = F.shiftrightunsigned(xor_col, j * width)
            if j < bands - 1:
                col = col.bitwiseAND(F.lit((1 << width) - 1))
            return col == 0

        # bands == 1: every pair's only band is its first; greatest()
        # needs at least two arguments, so there is no filter to build
        first_band = F.lit(True) if bands == 1 else ~F.greatest(
            F.lit(False),
            *[
                (F.lit(j) < F.col("band")) & _band_zero(xor, j)
                for j in range(bands - 1)
            ],
        )
        pairs = (
            groups.select(F.explode("__g").alias("a"), "__g", "band")
            .select("a", F.explode("__g").alias("b"), "band")
            .where((F.col("a.id") < F.col("b.id")) & first_band)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.bit_count(xor).alias("hamming"),
            )
        )
    return pairs.where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-duplicate pairs, blocked on ``block_col``.

    The join is an equi-join on the block key — never an unconstrained
    cross product.  At 100 TB the block key would be an LSH bucket or
    coarse cluster id (see similarity.lsh_bucket); any equality-blocked
    scheme slots in unchanged.
    """
    from yet_another_map_reduce_spark.functions import dot, norm

    def side(suffix: str) -> DataFrame:
        # precompute the double-cast vector AND its norm once per vector
        # — per-pair norm recomputation is 3x the flops for nothing, and
        # sqrt of the same fold is bit-identical wherever it's computed
        vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col(block_col).alias("__blk"),
            vd.alias(f"v{suffix}"),
            norm(vd).alias(f"n{suffix}"),
        )

    a, b = side("a"), side("b")
    return (
        a.join(b, on="__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            # try_divide: zero-norm vectors yield NULL (excluded by the
            # threshold filter) instead of an ANSI divide-by-zero error
            F.round(F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list → (id, component),
    where ``component`` is the minimum node id in each component.

    This is the clustering step after candidate-pair generation: LSH
    emits *pairs*, but keep/drop decisions need whole duplicate
    *clusters* (a~b, b~c must collapse a,b,c together even though a~c
    was never emitted).

    Semi-naive min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds.  Near-dup clusters are shallow (pairs
    all share shingles), so 3-5 rounds is typical.  For DEEP components
    (chains, meshes — not the dup-cluster shape) use
    :func:`connected_components_star`, whose alternating star
    contraction converges in O(log n) rounds regardless of diameter.  Each round is one
    shuffle (join + groupBy on node id); ``localCheckpoint`` truncates
    lineage so round N's plan doesn't replay rounds 1..N-1 — without it
    the DAG doubles every pass, which is fatal long before 100 TB.

    The convergence probe is the round's changed-label count, observed
    (``plans.observe_metrics``) on the round's checkpoint job instead of
    run as a ``count()`` job of its own; driver memory stays O(1).  The
    ``observe`` sits at the top of the plan, in the result stage after
    the round's last exchange, where each task's accumulator update
    counts once.  A/B against the ``limit(1).count()`` probe on the
    sf0.1 ``dedup_components`` edges (local[4] on 4 shared vCPUs, one
    driver, 15 interleaved rounds, medians, identical labels): 19 → 15
    jobs, 1.34 → 1.16 s (won 13/15, inside the parent's 0.44 s IQR).

    Exhausting ``max_iterations`` before the fixpoint RAISES instead of
    returning silently-wrong labels (no-silent-caps discipline): a
    component deeper than the round budget would otherwise come back
    split into several bogus components, and a dedup keep-join would
    keep duplicates with no signal anything was wrong.  Deep graphs
    should use :func:`connected_components_star` (O(log n) rounds).
    """
    # materialize the edge list first: the symmetrizing union would
    # otherwise evaluate the (possibly expensive — e.g. full LSH
    # pipeline) upstream plan once per branch
    edges = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("component", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iterations):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy(F.col("a").alias("id2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        merged = labels.join(nbr_min, labels["id"] == nbr_min["id2"], "left").select(
            "id",
            "component",
            F.least(
                F.col("component"), F.coalesce("nbr_component", "component")
            ).alias("new_component"),
        )
        # the probe rides on the checkpoint job: observed at the top of
        # the plan, in the result stage, so each task counts once
        merged, obs = observe_metrics(
            merged, "cc_changed",
            changed=F.count_if(F.col("new_component") < F.col("component")),
        )
        merged = merged.localCheckpoint()
        labels = merged.select("id", F.col("new_component").alias("component"))
        if obs.get["changed"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations — the graph has a component deeper than the round "
        "budget; raise max_iterations or use connected_components_star "
        "(O(log n) rounds on any shape).  Refusing to return "
        "partially-propagated labels (they would split real components)."
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds on ANY graph shape, vs the O(diameter)
    rounds of :func:`connected_components`'s min-label propagation.

    Use this when components can be deep (chains, meshes); for shallow
    dup clusters the simpler propagation converges in fewer shuffles.

    - large-star: every node connects its LARGER neighbors to its
      current minimum neighbor (or itself) — ``(u, v) -> (min(N(u)∪u),
      v) for v > u``;
    - small-star: every node connects its smaller-or-equal neighbors to
      its minimum — halving tree heights.

    Each half-round is one groupBy shuffle over the edge list;
    ``localCheckpoint`` truncates lineage per round.  Converges when the
    edge list is a star forest (edges = (root, node) pairs), detected by
    an unchanged edge count and confirmed by an ``exceptAll`` of the two
    edge sets.  Each round's edge count is observed
    (``plans.observe_metrics``) on its checkpoint job, at the top of the
    plan after the last exchange; the previous round's observed count
    is the comparand, so no round runs a ``count()`` job.  A/B against
    two ``count()`` jobs per round, on the same edges and setup as
    :func:`connected_components`'s: 17 → 13 jobs, 1.60 → 1.63 s (won
    6/15, parent IQR 0.41): fewer jobs, no time saved at this size;
    identical labels.
    """

    def checkpoint_counted(e: DataFrame) -> tuple[DataFrame, int]:
        # the edge count rides on the checkpoint job: observed at the top
        # of the plan, in the result stage, so each task counts once
        e, obs = observe_metrics(e, "cc_star_edges", n=F.count(F.lit(1)))
        e = e.localCheckpoint()
        return e, obs.get["n"]

    # normalize: undirected edge list as (min, max), self-loops dropped
    e, n_e = checkpoint_counted(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        ).where(F.col("u") != F.col("v")).distinct()
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def star_round(e: DataFrame, small: bool, dedupe: bool = True) -> DataFrame:
        # neighborhoods as (center, neighbor) with both directions for
        # small-star; large-star only needs larger neighbors attached
        both = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = both.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("root"))
        if small:
            # attach center and its smaller neighbors to the root
            out = (
                both.where(F.col("v") <= F.col("u"))
                .join(m, "u")
                .select(F.col("root").alias("u2"), F.col("v").alias("v2"))
                .union(m.select(F.col("root").alias("u2"), F.col("u").alias("v2")))
            )
        else:
            # attach larger neighbors to the root
            out = (
                both.where(F.col("v") > F.col("u"))
                .join(m, "u")
                .select(F.col("root").alias("u2"), F.col("v").alias("v2"))
            )
        out = out.select(
            F.least(F.col("u2"), F.col("v2")).alias("u"),
            F.greatest(F.col("u2"), F.col("v2")).alias("v"),
        ).where(F.col("u") != F.col("v"))
        # the star rounds are duplicate-tolerant (groupBy-min is
        # unaffected), so the intermediate large-star result skips its
        # distinct — one less exchange per iteration; only the
        # small-star output (the next round's edge set, also what the
        # count-based fixpoint probe compares) is deduplicated
        return out.distinct() if dedupe else out

    converged = False
    for _ in range(max_iterations):
        e_next, n_next = checkpoint_counted(
            star_round(star_round(e, small=False, dedupe=False), small=True)
        )
        # fixpoint: the alternating contraction is idempotent exactly on
        # star forests; equal edge counts are confirmed by comparing the
        # edge sets
        if n_next == n_e and e_next.exceptAll(e).limit(1).count() == 0:
            e = e_next
            converged = True
            break
        e, n_e = e_next, n_next
    if not converged:
        # worse than the propagation variant's failure mode: a
        # non-star-forest edge set projects MULTIPLE (id, component)
        # rows per id below — never return that silently
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds (alternating star contraction is "
            "O(log n) — this indicates an extreme graph or too small a "
            "budget); raise max_iterations.  Refusing to project a "
            "non-star-forest edge set into labels."
        )
    roots = e.select(F.col("u").alias("component"), F.col("v").alias("id"))
    singletons = nodes.join(roots, nodes["id"] == roots["id"], "left_anti").select(
        F.col("id"), F.col("id").alias("component")
    )
    own = e.select(F.col("u").alias("id"), F.col("u").alias("component")).distinct()
    return roots.select("id", "component").union(own).union(singletons).distinct()


def embedding_near_dup_pairs_gram(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    tile_rows: int = 4096,
    max_block_rows: int | None = 32768,
    guard_planes: int = 3,
) -> DataFrame:
    """BLAS fast path for :func:`embedding_near_dup_pairs`: same contract
    (blocked cosine pairs, ``id_a < id_b``, cos rounded to 6), but each
    block computes normalized gram TILES in numpy instead of exploding
    to per-pair rows with array payloads — the HOF dot product is
    interpreted per element, while ``T @ N.T`` is a single BLAS call
    (~10x at 64 dims, more at higher).

    Scale notes: one shuffle on the block key; per-block work is
    O(rows² · dim) flops (the operator's exact within-block contract),
    but memory is bounded at O(tile_rows · rows): the gram matrix is
    computed in ``tile_rows``-row horizontal strips, each strip's
    upper-triangle survivors extracted before the next strip is
    allocated.  A 20k-row block that would need a 3.2 GB gram (plus a
    same-sized triu index set) per Python worker peaks at ~160 MB
    transient instead — the difference between thrash and throughput
    when many blocks decode concurrently at 100x data.  Results are
    bit-identical to the one-shot gram (same rounding, same i<j pairs).

    Quadratic-burn guard: a block larger than ``max_block_rows``
    (measured: the exact tier hit 57.5× runtime at 100× data purely
    from such blocks) is sub-split IN-TASK by the same md5-derived
    sign-LSH signature :func:`embedding_near_dup_pairs_lsh` uses
    (``guard_planes`` planes over the raw double vectors, exact dups
    always collide), and pairs are scanned only within sub-blocks —
    flops drop by ~2^planes at a bounded recall cost, and a degenerate
    key can no longer run quadratic without bound.  The dispatch is a
    pure function of block size, so results stay deterministic; blocks
    at or under the threshold are untouched, which keeps the
    registered query's oracle exact at verification scale.  Set
    ``max_block_rows=None`` for the unguarded exact contract, or reach
    for the LSH variant directly when sub-blocks should ALSO spread
    across tasks instead of sharing one.

    The guard is VISIBLE in the output: every pair carries a
    ``guarded`` boolean — false for pairs from an exact all-pairs
    scan, true for pairs found inside a sub-split oversized block.  A
    caller of the exact API can therefore detect (``any(guarded)``)
    that part of the result is bounded-recall rather than exact,
    instead of silently receiving approximate pairs (r8 verdict /
    ADVICE).  The guard's sign bits are computed with the SAME
    sequential left-fold accumulation order as
    ``similarity.lsh_bucket``'s ``F.aggregate`` (element j added in
    array order), not a BLAS matmul whose pairwise summation could
    flip the sign of a near-zero dot product — so "guard sub-blocks ==
    LSH-variant buckets" holds bit-for-bit, not just within float
    noise.

    NULL handling matches the exact variant EXACTLY (part of the
    same-contract promise): rows with a NULL vector contribute no
    pairs (the equi-join variant's NULL dot/norm folds to NULL cos,
    filtered), and rows with a NULL block key contribute no pairs (a
    SQL equi-join never matches NULL keys) — both are filtered before
    the groupBy rather than crashing ``np.stack`` or, worse, pooling
    every NULL-block row into one pair-producing pseudo-block.
    """
    import numpy as np
    import pandas as pd

    def scan(ids: "np.ndarray", n: "np.ndarray", out_a, out_b, out_c) -> None:
        """Exact tiled upper-triangle pair scan over normalized rows;
        ids must be ascending (caller sorts once per block)."""
        r = len(ids)
        for lo in range(0, r, tile_rows):
            hi = min(lo + tile_rows, r)
            # strip rows lo..hi vs columns lo.. (j > i ⇒ only the part
            # right of the diagonal can hold i<j pairs)
            cos = n[lo:hi] @ n[lo:].T
            # raw-value prefilter with half-ulp-of-round slack, then
            # round ONLY the candidates and re-test exactly: identical
            # keep-set to rounding the whole strip (round moves a value
            # by ≤ 5e-7), without 3 extra full-matrix passes.
            ia, ja = np.nonzero(cos >= threshold - 5.000001e-7)
            # both axes are lo-based, so global j > i is just ja > ia
            cand = ja > ia
            ia, ja = ia[cand], ja[cand]
            rc = round_half_up(cos[ia, ja], 6)
            keep = rc >= threshold
            out_a.append(ids[ia[keep] + lo])
            out_b.append(ids[ja[keep] + lo])
            out_c.append(rc[keep])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        n = m / norms[:, None]
        out_a, out_b, out_c = [], [], []
        tripped = False
        if max_block_rows is not None and len(ids) > max_block_rows:
            # oversized block: same signature rule as similarity.lsh_bucket
            # (bit i set iff raw-vector · plane_i >= 0); the dot product
            # is accumulated element-by-element in array order — the
            # exact fold lsh_bucket's F.aggregate performs — so a
            # near-zero dot lands on the same side of 0 in both paths
            # (a BLAS matmul's pairwise summation could differ by an
            # ulp and flip the bucket).  id order inside each sub-block
            # is preserved by stable masking of the pre-sorted arrays.
            from yet_another_map_reduce_spark.operators.similarity import (
                _hyperplane,
            )

            tripped = True
            sig = np.zeros(len(ids), dtype=np.int64)
            for i in range(guard_planes):
                plane = _hyperplane(m.shape[1], i)
                acc = np.zeros(len(ids), dtype=np.float64)
                for j in range(m.shape[1]):
                    acc = acc + m[:, j] * plane[j]
                sig |= (acc >= 0.0).astype(np.int64) << i
            for s in np.unique(sig):
                mask = sig == s
                if mask.sum() >= 2:
                    scan(ids[mask], n[mask], out_a, out_b, out_c)
        else:
            scan(ids, n, out_a, out_b, out_c)
        if not out_a:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos": [], "guarded": []}
            ).astype(
                {
                    "id_a": "int64",
                    "id_b": "int64",
                    "cos": "float64",
                    "guarded": "bool",
                }
            )
        a = np.concatenate(out_a)
        return pd.DataFrame(
            {
                "id_a": a,
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
                "guarded": np.full(len(a), tripped),
            }
        )

    return (
        df.select(F.col(id_col), F.col(vec_col), F.col(block_col))
        .where(F.col(vec_col).isNotNull() & F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(
            fn, schema="id_a long, id_b long, cos double, guarded boolean"
        )
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    num_planes: int = 4,
    dim: int = 64,
    tile_rows: int = 4096,
) -> DataFrame:
    """Scale-safe near-dup pairs: sub-block each ``block_col`` group by
    the vector's sign-LSH signature before the exact gram scan.

    :func:`embedding_near_dup_pairs_gram` is EXACT all-pairs within a
    block — inherently O(rows²) flops per block, so a fixed blocking key
    (label, language, source) whose groups grow linearly with the corpus
    goes quadratic (measured: 113× time at 100× data).  This variant
    trades bounded recall for scale the standard LSH way: a pair is
    compared only when the two vectors share all ``num_planes`` sign
    bits (collision probability (1 - θ/π)^planes; exact duplicates
    always collide), which splits each block into up to 2^planes
    sub-blocks and divides the pair scan accordingly — the knob that
    keeps per-group work bounded as the corpus grows.

    Deterministic end to end: the hyperplanes are md5-derived
    (:func:`similarity._hyperplane`), so an external engine can replay
    the exact bucket assignment and pair set — the registered query's
    DuckDB oracle does, making this hash-verifiable, not just
    rows-verifiable.  Each vector has exactly one signature, so every
    pair surfaces at most once (no cross-bucket dedup pass needed).
    """
    from yet_another_map_reduce_spark.operators.similarity import lsh_bucket

    # NULL vector / NULL block rows contribute no pairs (the equi-join
    # contract) — filter BEFORE banding: concat_ws below skips NULLs,
    # so an unfiltered NULL block would otherwise pool rows by bucket
    # alone and emit pairs a join on the block key would never produce
    df = df.where(F.col(vec_col).isNotNull() & F.col(block_col).isNotNull())
    b = lsh_bucket(df, vec_col, num_planes, dim).withColumn(
        "__blk",
        F.concat_ws(
            "|", F.col(block_col).cast("string"), F.col("bucket").cast("string")
        ),
    )
    # already sub-split by signature — the in-task size guard would
    # only re-split with the same planes, so disable it; the `guarded`
    # flag is dropped because approximate-by-LSH is this variant's
    # ADVERTISED contract, not a silent degradation to signal
    return embedding_near_dup_pairs_gram(
        b, id_col, vec_col, "__blk", threshold, tile_rows, max_block_rows=None
    ).select("id_a", "id_b", "cos")


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Sub-document exact dedup at token-chunk granularity (the
    CCNet/line-dedup shape generalized to corpora without line breaks):
    split every document into consecutive ``chunk_tokens``-token chunks,
    keep only the corpus-wide FIRST occurrence of each distinct chunk
    (ordered by ``(id, chunk_idx)``), and reassemble what survives.

    Returns one row per input document:
    ``(id, n_chunks, n_kept, kept_frac, dedup_text)`` — ``dedup_text``
    is the document with its duplicated chunks removed ('' if nothing
    survives, e.g. a doc that is entirely boilerplate seen earlier).

    Scale shape: chunks build per row, map-only —
    ``posexplode(transform(sequence(0, (size-1) div k), c ->
    array_join(slice(toks, c*k+1, k), ' ')))`` over the token array in
    its own projection (referenced twice, so Catalyst keeps it and the
    tokenizer runs once per row; see ``functions.shingles``).  That
    replaced a posexplode → ``groupBy(id, chunk_idx)`` → sorted
    ``collect_list`` rebuild, an exchange over the whole token stream,
    with identical rows.  A/B, 10 interleaved pairs, local[4] on 4
    shared vCPUs, medians: ``dedup_chunks`` 0.91 → 0.70 s at sf0.1 (won
    9/10); ``pipeline_curation_v2`` 1.71 → 1.42 s at sf0.1 (10/10) and
    1.14 → 1.10 s at sf0.01 (7/10, within the parent's 0.08 s IQR).

    Every later stage is a hash aggregation with map-side partials:
    first-occurrence is ``min(struct(id, chunk_idx))`` grouped by the
    fixed-width md5 chunk key — deliberately NOT a
    ``row_number`` window, so a boilerplate chunk repeated 10^9 times
    across 100 TB partially aggregates map-side instead of serializing
    through one sorted window partition — and the surviving chunks
    re-join on that same key before the final per-document rebuild.
    Nothing is ever corpus x corpus.

    NULL text is treated as the empty string (one '' chunk), so the
    "one row per input document" contract holds for EVERY input row —
    a plain explode of NULL would silently drop NULL-text docs from the
    output, and a downstream keep-join would drop them from the corpus.
    """
    k = chunk_tokens
    toks = F.col("__toks")
    chunks = df.select(
        F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / k).cast("int")),
                lambda c: F.array_join(F.slice(toks, c * k + 1, k), " "),
            )
        ).alias("chunk_idx", "chunk"),
    ).withColumn("chunk_idx", F.col("chunk_idx").cast("bigint"))
    key = F.md5(F.col("chunk"))
    firsts = chunks.groupBy(key.alias("__k")).agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__first")
    )
    marked = (
        chunks.withColumn("__k", key)
        .join(firsts, "__k")
        .withColumn(
            "__is_first",
            (F.col(id_col) == F.col("__first")[id_col])
            & (F.col("chunk_idx") == F.col("__first")["chunk_idx"]),
        )
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.col("__is_first").cast("bigint")).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__is_first"), F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .withColumn("kept_frac", F.round(F.col("n_kept") / F.col("n_chunks"), 6))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans — substring-level dedup in the
    style of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally.  The paper's
    suffix array is pointer-chasing over one global array — the wrong
    shape for a cluster; positional k-gram hashing finds the same
    duplicated regions for any duplicate ≥ ``k`` tokens, and every
    stage is a DataFrame op in whole-stage codegen.

    Unlike :func:`chunk_dedup` (fixed, alignment-sensitive chunks),
    spans are MAXIMAL runs at token granularity: a duplicated passage
    is reported once with its exact boundaries, wherever it starts.

    Pipeline, with the 100 TB shape of each stage:

    1. positional shingles ``(id, pos, hash)`` — posexplode + lead,
       one window per doc; the 60-bit md5 hash is what shuffles, never
       shingle text;
    2. corpus-duplicated positions: the CACHED shingle relation (id,
       pos, hash — fixed-width rows) aggregates by hash with MAP-SIDE
       PARTIALS and joins the ``count >= min_occurrences`` hash set
       back on the hash key (intra-doc repeats count — a
       self-repeating doc is still duplication).  Deliberately NOT a
       ``count().over(Window.partitionBy(hash))``: a window routes
       every occurrence of a hash into ONE task with no partial
       aggregation, so a boilerplate 8-gram repeated 10^8-10^9 times
       (license headers at 100 TB) is a straggler-or-OOM hotspot —
       and AQE's skew-join splitting rescues a sort-merge JOIN's hot
       keys but never a window's.  The cache (the r6 pattern used by
       every multi-branch operator here) keeps the shingle pipeline
       single-evaluation; the duplicated-hash set is joined, never
       broadcast (on a heavily duplicated corpus it approaches the
       distinct-shingle count);
    3. gaps-and-islands per doc: coverage intervals ``[pos, pos+k-1]``
       merge while consecutive duplicated positions are ≤ ``k`` apart
       (overlapping or touching coverage) — lag + running sum, one
       window shuffle on the doc id; the final span aggregation reuses
       that id partitioning (grouping keys contain the partition key).

    Returns one row per maximal span:
    ``(id, span_start, span_end, span_tokens)`` — inclusive
    token-index boundaries.
    """
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("__pos", "__tok")
    )
    w = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(w) for j in range(1, k)]
    sh = (
        tok.select(
            F.col(id_col),
            F.col("__pos"),
            md5_hash64(F.concat_ws(" ", *parts)).alias("__h"),
            parts[-1].isNotNull().alias("__ok"),
        )
        .where(F.col("__ok"))
        .drop("__ok")
        .transform(tracked_cache)
    )
    dup_hashes = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_occurrences)
        .select("__h")
    )
    hits = sh.join(dup_hashes, "__h").select(id_col, "__pos")
    w2 = Window.partitionBy(id_col).orderBy("__pos")
    islands = hits.withColumn(
        "__new",
        F.when(F.col("__pos") - F.lag("__pos").over(w2) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "__isl",
        F.sum("__new").over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").cast("bigint").alias("span_start"),
            (F.max("__pos") + k - 1).cast("bigint").alias("span_end"),
        )
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start") + 1)
        .drop("__isl")
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    seen_fp_col: str | None = None,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus — the
    incremental-crawl shape: drop new documents whose normalized-text
    fingerprint already exists in ``seen_df``, then exact-dedup what
    remains within the batch (lowest id wins).

    Returns ``(id, dup_count)`` for the surviving batch documents, the
    same contract as :func:`exact_dedup`, so the two compose: bootstrap
    with exact_dedup, then run every subsequent crawl increment through
    incremental_dedup against the growing seen set.

    Scale shape — the SEEN relation is the corpus-sized side and must
    never shuffle per batch: a naive ``new LEFT ANTI seen`` can't
    broadcast (Spark only builds the RIGHT side of an anti join, and
    the right side here is the corpus), so past demo scale it degrades
    to a sort-merge join that reshuffles the ENTIRE seen relation on
    every micro-batch.  Instead the join is inverted into the
    broadcast-batch shape: the batch's distinct fingerprints (bounded
    by micro-batch size — KBs to MBs) broadcast onto a ONE-PASS
    map-only semi-scan of seen, yielding ``hits`` (also batch-bounded),
    and the batch anti-joins against broadcast ``hits``.  Per batch:
    one map-only columnar scan of the fingerprint relation, two
    batch-sized broadcasts, zero corpus shuffle, no corpus-side
    distinct (pinned by
    tests/test_plans.py::test_incremental_dedup_never_shuffles_seen).
    Production keeps the seen relation as its own compact fp table —
    the corpus is never re-read as text.

    ``seen_fp_col`` names a column of ``seen_df`` that ALREADY holds
    md5 fingerprints (the compact production relation the scale note
    above describes — e.g. the one :func:`batch_fingerprints` emits and
    the streaming ingest pipeline accumulates); when None, ``seen_df``
    carries raw text under ``text_col`` and is fingerprinted here.
    """
    fp = F.md5(normalize_text(text_col))
    new_fp = new_df.select(F.col(id_col), fp.alias("__fp"))
    seen_fp = (
        seen_df.select(F.col(seen_fp_col).alias("__fp"))
        if seen_fp_col is not None
        else seen_df.select(fp.alias("__fp"))
    )
    batch_keys = new_fp.select("__fp").distinct()
    hits = seen_fp.join(F.broadcast(batch_keys), "__fp", "left_semi").distinct()
    return (
        new_fp.join(F.broadcast(hits), "__fp", "left_anti")
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def batch_fingerprints(df: DataFrame, text_col: str) -> DataFrame:
    """The compact fingerprint relation for a batch of documents —
    what a production ingest accumulates as its "seen" table (one
    fixed-width md5 per distinct normalized text) instead of ever
    re-reading corpus text: pass it back to :func:`incremental_dedup`
    via ``seen_fp_col="fp"``.  Map-side-partial distinct on the
    fingerprint, nothing else."""
    return df.select(F.md5(normalize_text(text_col)).alias("fp")).distinct()


def batch_fp_keys(df: DataFrame, text_col: str) -> list[str]:
    """The batch's distinct fingerprints as a DRIVER-SIDE key list —
    the probe keys :func:`~yet_another_map_reduce_spark.streaming
    .ingest.read_seen_pruned` turns into file-level pruning of the
    seen relation.  Batch-bounded collect (KB-scale md5 strings, never
    corpus data).  Same fingerprint definition as
    :func:`batch_fingerprints`; kept as its own call so the collect is
    a single extra batch-sized job, not a second pass through any
    caller-patched fingerprint-relation writer.

    NULL-text documents have a NULL fingerprint, which never
    equi-matches anything (SQL NULL join semantics — such documents
    never dedup against the seen relation), so NULL is dropped from
    the key list rather than handed to the range-bisect pruner."""
    return [
        r["fp"]
        for r in df.select(
            F.md5(normalize_text(text_col)).alias("fp")
        ).distinct().collect()
        if r["fp"] is not None
    ]


def sized_nlist(n: int, target_cluster_size: int = 8) -> int:
    """Corpus-aware IVF cell count: ``ceil(sqrt(n / target_cluster_size))``.

    This balances the two costs that bound clustered (SemDeDup-style)
    dedup — k-means assignment is ``O(n * nlist)`` dots, the
    within-cluster pair scan is ``O(n^2 / nlist)`` — whose sum is
    minimized at ``nlist ~ sqrt(n)`` (FAISS's documented practice for
    IVF training).  ``target_cluster_size`` is the knob's scale factor:
    smaller values mean more cells / smaller pair blocks (expected
    block size grows as ``sqrt(n * tcs)``, never linearly in the
    corpus).  A fixed nlist, by contrast, makes the pair scan
    ``O(n^2)`` the moment the corpus outgrows the demo it was tuned
    on."""
    import math

    return max(1, math.ceil(math.sqrt(n / float(target_cluster_size))))


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
    threshold: float = 0.3,
    target_cluster_size: int = 8,
    train_iterations: int = 2,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with trained k-means centroids,
    then prune within each cluster — a vector is DROPPED iff some
    lower-id cluster-mate has cosine >= ``threshold`` (deterministic
    greedy keep-min-id; cross-cluster near-dups are the method's
    documented approximation).

    Returns ``(id, centroid_id, is_kept)`` for every corpus vector.

    ``centroids=None`` (the default) trains them here with
    :func:`sized_nlist` cells — nlist grows as ``sqrt(corpus)``, so the
    registered query cannot be run with a stale demo nlist on a corpus
    1000x the demo.  Pass pre-trained centroids to skip training (the
    count and the training scan are then avoided entirely).

    Scale shape: assignment is map-only (KB-scale centroid set embedded
    as literals, no corpus shuffle — similarity._nearest_centroids);
    the near-dup scan is BLOCKED by the cluster grouping, never
    all-pairs over the corpus — with nlist sized to the corpus (FAISS
    practice: ~sqrt(n) cells) each block is bounded and the pair scan
    is O(n^2/nlist) spread across cells, the same bound SemDeDup's
    per-cluster pairwise step has on a GPU.  The pairwise step itself
    is an Arrow-batched ``applyInPandas`` per cell: ONE exchange of
    corpus rows (by centroid_id) and a per-cell numpy matmul — NOT a
    pair-join, whose n^2/nlist OUTPUT rows each paid an interpreted
    higher-order-function cosine (~376 us/pair measured: 47 s for 4M
    pairs at the 10x replica; the matmul does them in milliseconds).
    The per-cell cosine matrix is computed in row blocks so peak memory
    is O(block x cell), not O(cell^2).
    """
    from yet_another_map_reduce_spark.operators.similarity import (
        _nearest_centroids,
        train_ivf_centroids,
    )

    if centroids is None:
        # corpus-aware default: one cheap count() (column-pruned scan,
        # parquet row-group metadata at the source) sizes nlist so the
        # pair scan never silently goes quadratic on a corpus larger
        # than the caller tuned for
        nlist = sized_nlist(corpus.count(), target_cluster_size)
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, nlist=nlist, iterations=train_iterations
        )

    # materialized: the assigned relation feeds both sides of the pair
    # join AND the final flag join — without the cache each branch
    # re-scans the corpus and re-runs the assignment (r6 scan audit:
    # 3 FileScans)
    assigned = _nearest_centroids(corpus, id_col, vec_col, centroids, 1).select(
        F.col("__rid").alias("__id"),
        F.col("__v").alias("__vec"),
        "centroid_id",
    ).transform(tracked_cache)
    tau = float(threshold)

    def _prune_cell(pdf):
        # vectors of ONE cell, sorted by id; a row is dropped iff some
        # LOWER-id cell-mate has round(cosine, 6) >= tau — pairwise vs
        # ALL lower ids (SemDeDup's definition), not greedy-transitive.
        # Zero-norm vectors yield nan cosines (try_divide-compatible:
        # NULL never passes >= tau, in either role).
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"__id": np.empty(0, dtype=np.int64)})
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        n[n == 0.0] = np.nan
        drop = np.zeros(m, dtype=bool)
        blk = 2048  # row-block the cosine matrix: O(blk x m) peak, never O(m^2)
        for s in range(1, m, blk):
            e = min(s + blk, m)
            cb = round_half_up(
                (V[s:e] @ V[:e].T) / np.outer(n[s:e], n[:e]), 6
            )
            lower = np.arange(s, e)[:, None] > np.arange(e)[None, :]
            with np.errstate(invalid="ignore"):
                drop[s:e] = np.logical_and(cb >= tau, lower).any(axis=1)
        return pd.DataFrame({"__id": ids[drop]})

    dropped = (
        assigned.select("centroid_id", "__id", "__vec")
        .groupBy("centroid_id")
        .applyInPandas(_prune_cell, "__id long")
    )
    return (
        assigned.join(
            dropped.withColumn("__drop", F.lit(True)), "__id", "left"
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )
