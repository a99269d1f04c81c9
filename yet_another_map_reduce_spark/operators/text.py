"""Text-analysis operators for training-data pipelines (north-star
extension; the reference's text handling is opaque line splitting in user
code, ``/root/reference/mapper.py:27-31``).

All pure ``pyspark.sql.functions`` expressions — reproducible in an
ANSI-SQL oracle and fully codegen'd.  Each operator returns per-document
columns; compose them freely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yet_another_map_reduce_spark.functions import normalize_text, shingles, tokens

from ..caching import tracked_cache

#: tiny per-language stopword marker sets for the n-gram/stopword
#: language heuristic.  Deliberately small + deterministic: language ID
#: at pipeline scale is a scoring heuristic, not a model.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count(col: Column | str) -> Column:
    """Whitespace token count of normalized text."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: alpha→digit / digit→alpha boundaries
    also split, the usual cheap proxy for BPE token counts when no real
    tokenizer is available cluster-side.

    Implemented as two boundary-inserting replaces + a split (instead of
    lookaheads) so an RE2-based SQL oracle can express the identical
    algorithm.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.lower(c), r"([a-z])([0-9])", r"$1 $2")
    s = F.regexp_replace(s, r"([0-9])([a-z])", r"$1 $2")
    pieces = F.split(s, r"[^a-z0-9]+")
    return F.size(F.filter(pieces, lambda p: p != ""))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.round(F.length(stripped) / F.greatest(F.length(c), F.lit(1)), 6)


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are common English stopwords — a crude
    fluency signal (high ≈ natural prose, low ≈ tables/code/boilerplate)."""
    toks = tokens(col)
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return F.round(stop / F.greatest(F.size(toks), F.lit(1)), 6)


def mean_word_length(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards prose-like stopword
    density, moderate word length, and low punctuation noise.  The exact
    weights are arbitrary but fixed — the point is a deterministic,
    order-free scalar every engine computes identically."""
    sw = stopword_ratio(col)
    pr = punct_ratio(col)
    mwl = mean_word_length(col)
    score = (
        F.least(sw * 4, F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(pr * 5, F.lit(1.0))) * 0.3
        + F.when((mwl >= 3) & (mwl <= 8), F.lit(1.0)).otherwise(F.lit(0.3)) * 0.3
    )
    return F.round(score, 6)


def lang_id(col: Column | str) -> Column:
    """Marker-word language heuristic: the language whose marker set hits
    the most tokens; 'und' (undetermined) on a 0-0-0-0 tie.

    Ties between languages break by fixed language order (en, es, fr,
    de) — deterministic by construction.
    """
    toks = tokens(col)

    def marker_hits(markers: tuple[str, ...]) -> Column:
        # single-parameter lambda only: a second (defaulted) parameter
        # would be bound to the array index by Spark
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: marker_hits(markers) for lang, markers in _LANG_MARKERS.items()}
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[scores[lang] for lang in langs])
    # wrap inside-out so langs[0]'s WHEN ends up outermost → first
    # language in fixed order wins ties
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of normalized text — the
    content-addressable key used by exact dedup and incremental loads."""
    return F.md5(normalize_text(col))


#: winnowing packs (hash, position) into one bigint so a single window
#: ``min`` selects the min-hash / rightmost-tie fingerprint per window:
#: combo = hash40 * 2^20 + (2^20-1-pos).  40-bit hash + 20-bit position
#: stays under 2^60, and positions up to ~1M token-grams per document —
#: beyond that, chunk first (chunk_documents) like every other per-doc
#: window op here.
_WINNOW_POS_MOD = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson & Aiken 2003, the MOSS algorithm): hash every token
    k-gram, slide a window of ``w`` consecutive hashes, and keep the
    minimum hash of each window, rightmost position on ties (the
    paper's basic winnowing, Fig. 5).  Guarantee: any two documents sharing a token
    run of at least ``w + k - 1`` tokens share at least one
    fingerprint, while only ~2/(w+1) of all gram hashes are kept — the
    standard sublinear sketch for plagiarism/overlap detection.

    Relational shape (one exchange at any corpus size): positional
    k-gram hashes via posexplode + lead, then ONE window shuffle
    partitioned by document carries
    the per-window min, the gram count, the fingerprint distinct AND
    the final per-doc aggregation — the distinct/groupBy keys all
    contain the document id, so HashPartitioning(id) satisfies their
    clustering and Catalyst inserts no further exchange.  Only
    fixed-width (id, bigint) rows ever shuffle, never text.

    Tie-break without a struct ``min`` (kept ANSI-expressible for the
    DuckDB oracle): 40-bit md5 hash and the position pack into one
    bigint, ``h * 2^20 + (2^20-1-pos)``, whose integer ``min`` is
    exactly (min hash, max pos); bit ops unpack it losslessly — no
    doubles anywhere, so no float-divergence risk between engines.
    Documents shorter than ``w`` grams winnow their single partial
    window (pos 0), matching the paper's treatment of short inputs.

    An array-side ``transform(sequence, slice(toks, ...))`` gram form
    would also tokenize once per row on Spark 4.1.2, given the token
    array in its own projection: an array read twice keeps that
    projection; only one read once inside a lambda is inlined and
    re-evaluated per element (see ``functions.shingles``).  An
    array-side winnow has not been measured against this one.

    Returns one row per fingerprint:
    ``(id, fp_hash, fp_pos)`` — the selected gram hash and the token
    position it starts at.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("__pos", "__tok")
    )
    wdoc = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(wdoc) for j in range(1, k)]
    grams = tok.select(
        F.col(id_col),
        F.col("__pos"),
        F.conv(F.substring(F.md5(F.concat_ws(" ", *parts)), 1, 10), 16, 10)
        .cast("bigint")
        .alias("__h"),
        parts[-1].isNotNull().alias("__ok"),
    ).where(F.col("__ok"))
    pos_mod = F.lit(_WINNOW_POS_MOD)
    # runtime guard for the packing's 20-bit position budget: past it,
    # (2^20-1-pos) goes negative and silently breaks the packed-min
    # ordering — oversized documents must fail loudly and be chunked
    # first (chunk_documents), not produce wrong fingerprints
    guard = F.assert_true(
        F.col("__pos") < pos_mod,
        F.lit(
            "winnow_fingerprints: document exceeds 2^20 token-grams; "
            "chunk it first (chunk_documents)"
        ),
    )
    combo = F.when(
        guard.isNull(), F.col("__h") * pos_mod + (pos_mod - 1 - F.col("__pos"))
    )
    sel = grams.select(
        F.col(id_col),
        F.col("__pos"),
        F.min(combo).over(wdoc.rowsBetween(0, w - 1)).alias("__mc"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__n"),
    )
    return (
        sel.where(F.col("__pos") <= F.greatest(F.col("__n") - w, F.lit(0)))
        .select(
            F.col(id_col),
            F.shiftright("__mc", 20).alias("fp_hash"),
            (pos_mod - 1 - F.col("__mc").bitwiseAND(_WINNOW_POS_MOD - 1)).alias(
                "fp_pos"
            ),
        )
        .distinct()
    )


#: PII patterns kept RE2-compatible (no lookarounds/backrefs) so SQL
#: oracles and other engines can apply the identical regexes.
_PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # SSN before phone: the greedy phone pattern would otherwise
    # swallow 123-45-6789 and mislabel it
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace email / phone / SSN-shaped substrings with typed
    placeholder tokens — the standard scrubbing pass before training-
    data release.  Pattern-based (not NER): deterministic, cheap, and
    runs fully JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in _PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into fixed-size (optionally overlapping) token
    windows — the standard LLM-pipeline chunking step.

    Chunk k covers token positions [k*stride, k*stride + chunk_tokens);
    chunks start while k*stride < n_tokens, so the tail chunk may be
    short.  ``stride`` defaults to ``chunk_tokens`` (no overlap).

    Shape: explode tokens once (single evaluation of the tokenizer),
    explode each token onto the chunks containing it, then group by
    (doc, chunk) reassembling order via sort_array over (pos, token)
    structs — collect_list alone has no ordering guarantee.  Two
    shuffles, linear in total tokens × overlap factor; works for
    documents of any length (no per-doc array materialization).
    """
    stride = stride or chunk_tokens
    if stride > chunk_tokens:
        # a gap stride breaks the membership expansion: tokens in the
        # gap get first_chunk > last_chunk, which F.sequence generates
        # as a DESCENDING range instead of empty — the gap token lands
        # in two wrong chunks and phantom chunks appear.  Overlap
        # (stride < chunk) and exact tiling (stride == chunk) are the
        # supported modes; gapped SAMPLING is a filter on the tiled
        # output, not a chunking mode.
        raise ValueError(
            f"stride ({stride}) must be <= chunk_tokens ({chunk_tokens})"
        )
    tok = df.select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok"))
    # chunk indices containing position p: ceil((p-W+1)/s) .. floor(p/s)
    first_chunk = F.greatest(
        F.lit(0), F.ceil((F.col("pos") - chunk_tokens + 1) / F.lit(stride))
    )
    last_chunk = F.floor(F.col("pos") / F.lit(stride))
    membered = tok.select(
        F.col(id_col),
        "pos",
        "tok",
        F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_id"),
    )
    return (
        membered.groupBy(id_col, "chunk_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "tok"))).alias("__ordered"))
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.concat_ws(" ", F.transform("__ordered", lambda s: s["tok"])).alias("chunk_text"),
            F.size("__ordered").cast("bigint").alias("n_tokens"),
        )
    )


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """All per-document text metrics in one projection (single scan)."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_subtokens"),
        char_count(text_col).alias("n_chars2"),
        punct_ratio(text_col).alias("punct_ratio"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        mean_word_length(text_col).alias("mean_word_len"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


class _FirstFitTree:
    """Leftmost-bin-that-fits in O(log B): an implicit tournament tree
    whose leaves are bin remaining capacities and whose internal nodes
    hold the max of their children.  ``take_first_fit`` descends
    left-first, so it always returns the LOWEST bin id that fits —
    EXACT first-fit semantics, bit-identical layouts to the naive
    linear scan (pinned by a property test), unlike a best-fit heap
    which changes packings.  The previous linear scan re-walked every
    ever-opened bin per doc: O(docs²) per partition, a scale-killer on
    the million-doc partitions this operator advertises."""

    __slots__ = ("cap", "tree", "n")

    def __init__(self) -> None:
        self.cap = 1
        self.tree = [-1, -1]  # 1-indexed heap layout; leaves at [cap, 2cap)
        self.n = 0

    def _grow(self) -> None:
        leaves = self.tree[self.cap : self.cap + self.n]
        self.cap *= 2
        self.tree = [-1] * (2 * self.cap)
        self.tree[self.cap : self.cap + self.n] = leaves
        for i in range(self.cap - 1, 0, -1):
            self.tree[i] = max(self.tree[2 * i], self.tree[2 * i + 1])

    def append(self, rem: int) -> None:
        """Open a new bin with ``rem`` remaining capacity (its id is
        ``self.n`` before the call)."""
        if self.n == self.cap:
            self._grow()
        i = self.cap + self.n
        self.n += 1
        self.tree[i] = rem
        i //= 2
        while i:
            self.tree[i] = max(self.tree[2 * i], self.tree[2 * i + 1])
            i //= 2

    def take_first_fit(self, need: int) -> int | None:
        """Id of the leftmost bin with remaining >= ``need`` (its
        remaining is decremented), or None if no bin fits.  Unopened
        leaves hold -1, so they can never satisfy ``need >= 0``."""
        if self.tree[1] < need:
            return None
        i = 1
        while i < self.cap:
            i *= 2
            if self.tree[i] < need:
                i += 1
        idx = i - self.cap
        self.tree[i] -= need
        i //= 2
        while i:
            self.tree[i] = max(self.tree[2 * i], self.tree[2 * i + 1])
            i //= 2
        return idx


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    sort_col: str | None = None,
) -> DataFrame:
    """Greedy first-fit packing of documents into fixed-token-budget
    bins — the batch-construction step of an LLM pretraining pipeline
    (minimize padding by filling each sequence close to ``budget``).

    Packing is per-partition (``mapInPandas``): a global optimal
    bin-packing is NP-hard and needs a serial pass, but per-partition
    greedy over length-sorted docs is the standard at-scale
    approximation — each partition packs independently, so a 100 TB
    corpus packs in one Arrow-streaming pass with zero shuffles beyond
    the optional sort.  Bin ids are globally unique via
    (partition_id << 32) | local_bin.

    Documents longer than ``budget`` get a singleton bin (truncation is
    the caller's policy, not the packer's).
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark import TaskContext

    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(token_count_col).cast("long").alias("n_tokens"),
    )
    if sort_col is not None:
        src = src.sortWithinPartitions(F.col(sort_col).desc())

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        bins = _FirstFitTree()  # O(log B)/doc, exact first-fit layouts
        out_ids, out_bins = [], []
        for b in batches:
            for doc, n in zip(b["doc_id"], b["n_tokens"]):
                n = int(n)
                placed = bins.take_first_fit(n)
                if placed is None:
                    placed = bins.n
                    bins.append(max(0, budget - n))
                out_ids.append(int(doc))
                out_bins.append((pid << 32) | placed)
            yield pd.DataFrame({"doc_id": out_ids, "bin_id": out_bins})
            out_ids, out_bins = [], []

    return src.mapInPandas(fn, schema="doc_id long, bin_id long")


def pack_sequences_deterministic(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    num_parts: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Layout-invariant NEXT-FIT packing into fixed-token-budget bins.

    Bin assignment is a pure function of (ids, token counts, budget,
    num_parts, seed): docs are dealt to ``num_parts`` lanes by id-hash,
    ordered within a lane by the hash, and packed next-fit (close the
    bin when the next doc doesn't fit).  Re-running corpus prep on any
    cluster layout reproduces identical batches bit-for-bit — the
    property a resumable/verifiable pretraining pipeline needs, and
    what makes the packing SQL-checkable (the oracle replays the same
    recurrence as a recursive CTE).  :func:`pack_sequences` remains the
    first-fit variant for when density beats reproducibility.

    Scale shape: one shuffle on the lane key (each lane lives wholly in
    one task), then a single Arrow-streaming pass whose state is O(1) —
    a running fill and a bin counter, reset at lane boundaries.  A doc
    longer than ``budget`` gets a singleton bin (truncation is the
    caller's policy).  Bin ids are ``lane << 32 | bin`` — globally
    unique and stable.
    """
    from collections.abc import Iterator

    import pandas as pd

    from yet_another_map_reduce_spark.functions import md5_hash64

    src = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(token_count_col).cast("long").alias("n_tokens"),
            md5_hash64(F.col(id_col), seed).alias("__hv"),
        )
        .withColumn("part", F.pmod(F.col("__hv"), F.lit(num_parts)))
        .repartition(num_parts, "part")
        .sortWithinPartitions("part", "__hv", "doc_id")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_part, fill, bin_no = None, 0, -1
        for b in batches:
            out = {"doc_id": [], "part": [], "bin_id": [], "n_tokens": []}
            for doc, n, part in zip(b["doc_id"], b["n_tokens"], b["part"]):
                doc, n, part = int(doc), int(n), int(part)
                if part != cur_part:
                    cur_part, fill, bin_no = part, 0, -1
                if bin_no < 0 or fill + n > budget:
                    bin_no += 1
                    fill = n
                else:
                    fill += n
                out["doc_id"].append(doc)
                out["part"].append(part)
                out["bin_id"].append((part << 32) | bin_no)
                out["n_tokens"].append(n)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        fn, schema="doc_id long, part long, bin_id long, n_tokens long"
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by a tf-idf-style score.

    score = tf * (N / df) — a log-free idf so the value is a ratio of
    exact integers (bit-identical across engines; ln() would depend on
    the platform libm).  Ties break on the term string, so the top-k is
    total-ordered and deterministic.

    Scale notes: tf is a (doc, term) groupBy with map-side partials over
    the exploded tokens; df re-aggregates the (already tiny) tf relation
    by term; N rides along as a broadcast nested-loop join of a 1-row
    aggregate — no collect, no driver round-trip.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    ).where(F.length("term") > 0)
    # materialized: tf feeds both the df re-aggregation and the scoring
    # join — without the cache the corpus is re-scanned + re-exploded
    # per branch (r6 scan audit: 3 FileScans)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).transform(tracked_cache)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("term_rank") <= k)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"), "tfidf", "term_rank")
    )


def _gram_keys(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """``(id, g)``: each document's DISTINCT word-n-gram md5 hex keys,
    one row per key, built in codegen; a doc with no complete n-gram
    (NULL text included) keeps one ``(id, NULL)`` row via
    ``explode_outer``."""
    from yet_another_map_reduce_spark.operators.dedup import _tokenized

    grams = F.transform(shingles("__toks", n), lambda g: F.md5(g))
    return _tokenized(df, text_col, id_col).select(
        F.col("__id").alias(id_col),
        F.explode_outer(F.array_distinct(grams)).alias("g"),
    )


def decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    n: int = 4,
    threshold: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with a holdout/eval set — the overlap check every serious
    pretraining pipeline runs before release (13-gram overlap in
    published recipes; ``n`` is a parameter here).

    Per training doc: distinct n-grams, how many also occur in the
    holdout, their ratio, and an ``is_contaminated`` verdict at
    ``threshold``.  EVERY training doc surfaces — docs with fewer than
    ``n`` tokens get a zero-count row (``total_ngrams=0``,
    ``contamination=0.0``, ``is_contaminated=false``) rather than
    silently vanishing from the report (a downstream keep-join against
    a report that omits short docs drops them from the corpus).

    Scale shape: a benchmark-eval-sized holdout's distinct-gram relation
    is broadcast — the 100 TB train side is scanned once, and
    each doc's distinct gram md5 keys come map-only out of
    ``explode(array_distinct(transform(shingles(toks, n), md5)))`` in
    codegen (per-document distinct grams are local by definition, so no
    exchange; nothing big ever shuffles on a long string).  That
    expression replaced a ``mapInPandas`` kernel with identical rows
    (``text_decontaminate`` 1.65 → 1.31 s median, won 10/10 interleaved
    pairs, sf0.1, local[4] on 4 shared vCPUs) and needs no Python
    worker, so no executor needs the package.  The per-doc rollup aggregates with
    map-side partials.
    """
    hold_grams = (
        _gram_keys(holdout, text_col, id_col, n).select("g").distinct()
    )
    # a short or NULL doc rides as one (id, NULL) row — the NULL key
    # never matches the probe join (nor the holdout's own NULL key) and
    # count("g") never counts it, so it folds to the zero-count row with
    # no extra scan or join over the train relation
    doc_grams = _gram_keys(train, text_col, id_col, n)
    # ONE pass over the train grams: a flagged LEFT join against the
    # holdout set lets a single aggregate produce both the total and
    # the matched count — the r6 scale run caught the previous
    # two-branch form (separate matched/totals aggregates) re-running
    # the whole scan→explode→distinct pipeline twice
    flagged = doc_grams.join(F.broadcast(hold_grams).withColumn("__hit", F.lit(1)), "g", "left")
    ratio = F.col("matched_ngrams") / F.greatest(F.col("total_ngrams"), F.lit(1))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("g").alias("total_ngrams"),
            F.count("__hit").alias("matched_ngrams"),
        )
        .select(
            F.col(id_col),
            F.col("total_ngrams").cast("bigint").alias("total_ngrams"),
            F.col("matched_ngrams").cast("bigint").alias("matched_ngrams"),
            F.round(ratio, 6).alias("contamination"),
            (ratio > threshold).alias("is_contaminated"),
        )
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_bigram_frac: float = 0.18,
    max_dup_trigram_frac: float = 0.30,
) -> DataFrame:
    """Gopher-style within-document repetition metrics + a keep verdict.

    Per document: the fraction of n-gram occurrences taken by the single
    most frequent unigram/bigram/trigram, and the fraction of trigram
    occurrences whose trigram repeats at all — the published signals for
    machine-generated or boilerplate text (Gopher's repetition filters).

    Every metric is a pure per-document aggregate, so the whole
    computation runs in ONE map-only Arrow kernel (r15, guide §2.4: the
    former posexplode → lead-window → two groupBys shuffled the token
    stream three times for values that never leave their row; per-doc
    n-gram counting is a local dict fold).  The kernel emits the raw
    integer counts (max gram count / total / duplicated occurrences per
    n) and the fractions stay JVM expressions — the same
    ``round(maxc / greatest(tot, 1), 6)`` double division as before, so
    values are bit-identical to the shuffled form.
    """
    from yet_another_map_reduce_spark.operators.dedup import _tokenized

    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    cnt_cols = ["maxc1", "tot1", "maxc2", "tot2", "maxc3", "tot3", "dup3"]

    def gen(batches):
        # Vectorized n-gram counting (r16, guide §4.2: the former
        # per-position Python dict fold was ~1 µs/gram of interpreted
        # work ×3 n-gram orders).  One hash-based pd.factorize per
        # BATCH maps tokens to int codes; per document the codes are
        # densified (np.unique, pure C) so adjacent-code arithmetic
        # packs each n-gram into one int64 (local vocab Vd ≤ doc
        # length, so Vd³ < 2^63 for any doc under ~2M tokens — guarded
        # with a dict fallback), and counts come from
        # np.unique(return_counts).  A code n-tuple equals a
        # ``" ".join`` gram string 1:1 because ``tokens()`` splits on
        # whitespace (no token contains the join separator), so every
        # emitted count is identical to the dict fold's.
        import numpy as np

        def per_doc_counts(c: "np.ndarray") -> tuple[int, ...]:
            if c.size == 0:
                return (0, 0, 0, 0, 0, 0, 0)
            du, dinv = np.unique(c, return_inverse=True)
            vd = np.int64(du.size + 1)
            if du.size > 1_500_000:  # Vd^3 could overflow int64
                return _per_doc_counts_dict(c)
            cnt1 = np.bincount(dinv)
            m1, t1 = int(cnt1.max()), int(c.size)
            b = dinv[:-1] * vd + dinv[1:]
            if b.size:
                cnt2 = np.unique(b, return_counts=True)[1]
                m2, t2 = int(cnt2.max()), int(b.size)
            else:
                m2 = t2 = 0
            tri = (dinv[:-2] * vd + dinv[1:-1]) * vd + dinv[2:]
            if tri.size:
                cnt3 = np.unique(tri, return_counts=True)[1]
                m3, t3 = int(cnt3.max()), int(tri.size)
                d3 = int(cnt3[cnt3 > 1].sum())
            else:
                m3 = t3 = d3 = 0
            return (m1, t1, m2, t2, m3, t3, d3)

        def _per_doc_counts_dict(c: "np.ndarray") -> tuple[int, ...]:
            out = []
            for n in (1, 2, 3):
                agg: dict = {}
                for i in range(c.size - n + 1):
                    g = tuple(c[i : i + n])
                    agg[g] = agg.get(g, 0) + 1
                if not agg:
                    out.extend([0, 0] + ([0] if n == 3 else []))
                    continue
                vals = agg.values()
                out.extend([max(vals), sum(vals)])
                if n == 3:
                    out.append(sum(v for v in vals if v > 1))
            return tuple(out)

        for pdf in batches:
            docs = [
                (did, np.asarray(t, dtype=object))
                for did, t in zip(pdf["__id"], pdf["__toks"])
                if t is not None  # NULL text never produced token rows
            ]
            rows = {k: [] for k in ["__id", *cnt_cols]}
            if docs:
                flat = np.concatenate([t for _, t in docs])
                codes = (
                    pd.factorize(flat, use_na_sentinel=False)[0]
                    if flat.size
                    else np.empty(0, dtype=np.int64)
                )
                pos = 0
                for did, t in docs:
                    c = codes[pos : pos + t.size]
                    pos += t.size
                    vals = per_doc_counts(np.asarray(c, dtype=np.int64))
                    rows["__id"].append(did)
                    for k, v in zip(cnt_cols, vals):
                        rows[k].append(v)
            yield pd.DataFrame(rows)

    counted = _tokenized(df, text_col, id_col).mapInPandas(
        gen, f"__id {id_t}, " + ", ".join(f"{c} bigint" for c in cnt_cols)
    )

    def frac_of(num: str, tot: str) -> Column:
        # a doc with no n-gram at this n had no (id, n) row in the old
        # grouped form → the max(when(...)) came out NULL; tot == 0
        # reproduces that absence exactly
        return F.when(
            F.col(tot) > 0, F.col(num) / F.greatest(F.col(tot), F.lit(1))
        )

    out = counted.select(
        F.col("__id").alias(id_col),
        F.round(frac_of("maxc1", "tot1"), 6).alias("top_unigram_frac"),
        F.round(frac_of("maxc2", "tot2"), 6).alias("top_bigram_frac"),
        F.round(frac_of("maxc3", "tot3"), 6).alias("top_trigram_frac"),
        F.round(frac_of("dup3", "tot3"), 6).alias("dup_trigram_frac"),
    )
    # <3-token docs have no bigrams/trigrams: their fracs are NULL, and
    # a bare AND would propagate NULL into keep — a downstream
    # .where("keep") then silently DROPS every short document even
    # though it contains no repetition.  No n-grams == no repetition ==
    # frac 0.
    keep = (
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= max_top_bigram_frac
    ) & (
        F.coalesce(F.col("dup_trigram_frac"), F.lit(0.0))
        <= max_dup_trigram_frac
    )
    return out.withColumn("keep", keep)


def boilerplate_ngram_stats(
    df: DataFrame,
    n: int = 5,
    max_doc_freq: int = 2,
    max_boilerplate_frac: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate detection (CCNet-style common-line dedup,
    adapted to n-grams): an n-gram appearing in more than
    ``max_doc_freq`` distinct documents is boilerplate (license headers,
    templated navigation, cookie banners); per document, report the
    fraction of its n-gram occurrences that are boilerplate and a keep
    verdict.  EVERY doc surfaces: fewer than ``n`` tokens → a
    zero-count row with ``keep=true`` (no evidence of boilerplate),
    never a silent omission a downstream keep-join would drop.

    Scale shape (r15): per-doc gram multiplicities ``(id, g, c)`` come
    out of ONE map-only Arrow kernel (``dedup.gram_hash_rows`` —
    already distinct per document, so document frequency is a
    single count over md5 keys with map-side partials, and the former
    posexplode → window exchange plus the corpus-wide pre-``distinct``
    shuffle are gone, guide §2.4); the per-doc join is gram-keyed, so
    boilerplate concentration skews at 100 TB are exactly the skew
    AQE's join splitting handles.
    """
    from yet_another_map_reduce_spark.operators.dedup import gram_hash_rows

    # a short doc's single (id, NULL, c=0) marker row has no docfreq
    # entry (NULL key), so it must survive the join as LEFT and fold to
    # the zero-count row via sum(c)=0
    grams = gram_hash_rows(df, text_col, id_col, n)
    docfreq = grams.where(F.col("g").isNotNull()).groupBy("g").agg(
        F.count(F.lit(1)).alias("gram_df")
    )
    joined = grams.join(docfreq, "g", "left")
    frac = F.col("boilerplate_ngrams") / F.greatest(F.col("total_ngrams"), F.lit(1))
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("c").alias("total_ngrams"),
            F.sum(
                F.when(F.col("gram_df") > max_doc_freq, F.col("c")).otherwise(0)
            ).alias("boilerplate_ngrams"),
        )
        .select(
            F.col(id_col),
            F.col("total_ngrams").cast("bigint").alias("total_ngrams"),
            F.col("boilerplate_ngrams").cast("bigint").alias("boilerplate_ngrams"),
            F.round(frac, 6).alias("boilerplate_frac"),
            (frac <= max_boilerplate_frac).alias("keep"),
        )
    )


def remove_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 2,
    min_line_chars: int = 10,
    sep: str = "\n",
    join_sep: str | None = None,
    broadcast_key_limit: int | None = 65536,
) -> DataFrame:
    """C4/Dolma-style corpus-level line dedup: REWRITE each document by
    deleting the individual lines that occur in more than
    ``max_doc_freq`` distinct documents (navigation bars, cookie
    banners, license headers — the classic web-corpus noise), keeping
    everything else in original order.  This is the redaction
    counterpart of :func:`boilerplate_ngram_stats`, which only SCORES
    documents; pipelines run the score to drop template-dominated docs
    and this to clean the survivors.

    Lines shorter than ``min_line_chars`` after trimming never count as
    boilerplate (blank lines and short structural fragments are
    legitimate repeats).  ``sep`` is a Spark ``split`` regex (default
    literal newline); ``join_sep`` is the LITERAL string lines are
    re-joined with, defaulting to ``sep`` — pass it explicitly whenever
    ``sep`` is a non-literal regex.  Documents whose every line is
    removed survive
    with empty text — the corpus spine is never dropped by cleaning.

    Returns ``(id_col, text_col cleaned, n_lines, n_removed)``.

    Scale shape (r15): document frequency is a distinct + count over md5
    line keys (fixed-width, map-side partials, two key shuffles); the
    REWRITE is then a per-document array ``filter`` against the
    boilerplate key set carried as ONE broadcast array row — document
    text never shuffles at all.  The previous shape anti-joined the
    exploded line stream and re-assembled documents with a
    ``groupBy(id).collect_list`` — a full corpus-sized shuffle of line
    TEXT (plus the per-doc sort) for what is a row-local deletion once
    the offending keys are known (guide §2.4/§8: decide with small
    rows, never move the payload).  The key set is boilerplate CLASSES
    (typically minuscule), but its size grows with the corpus, so the
    fast path is SIZE-GUARDED (r16, closing the r15 ADVICE): the key
    relation is localCheckpoint-ed and counted at construction; at most
    ``broadcast_key_limit`` keys it rides as the broadcast array row
    (``array_contains`` is a linear probe per line AND a single row has
    a ~2 GB ceiling — both fine only while the set is small), and past
    the limit the rewrite falls back to the pre-r15 exploded anti-join
    + ordered reassembly, whose shuffles scale with the data instead of
    ceiling-ing.  ``broadcast_key_limit=None`` disables the guard (and
    the construction-time count) entirely.  The checkpoint means the
    key aggregation runs exactly once per call either way — at
    construction instead of execution — and is never cached across
    calls.
    """
    split_col = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    keyed_line = lambda l: F.when(  # noqa: E731 — shared line-key rule
        F.length(F.trim(l)) >= min_line_chars, F.md5(F.trim(l))
    )
    lines = df.select(
        F.col(id_col), F.explode(split_col).alias("__line")
    ).select(F.col(id_col), keyed_line(F.col("__line")).alias("__k"))
    boiler_keys = (
        lines.where(F.col("__k").isNotNull())
        .distinct()
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .select("__k")
    )
    if broadcast_key_limit is not None:
        boiler_keys = boiler_keys.localCheckpoint(eager=True)
        if boiler_keys.count() > broadcast_key_limit:
            return _remove_lines_antijoin(
                df, boiler_keys, split_col, keyed_line,
                text_col, id_col, sep, join_sep,
            )
    boiler_set = boiler_keys.agg(F.collect_set("__k").alias("__ks"))
    is_boiler = lambda l: F.array_contains(  # noqa: E731
        F.col("__ks"), keyed_line(l)
    )
    kept_arr = F.filter(split_col, lambda l: ~F.coalesce(is_boiler(l), F.lit(False)))
    return df.crossJoin(F.broadcast(boiler_set)).select(
        F.col(id_col),
        F.array_join(
            kept_arr, join_sep if join_sep is not None else sep
        ).alias(text_col),
        F.size(split_col).cast("bigint").alias("n_lines"),
        (F.size(split_col) - F.size(kept_arr)).cast("bigint").alias("n_removed"),
    )


def _remove_lines_antijoin(
    df: DataFrame,
    boiler_keys: DataFrame,
    split_col,
    keyed_line,
    text_col: str,
    id_col: str,
    sep: str,
    join_sep: str | None,
) -> DataFrame:
    """The scale fallback for :func:`remove_common_lines` when the
    boilerplate key set exceeds the broadcast guard: posexplode every
    line, anti-join the key relation (a hash join probe instead of a
    per-line linear array scan, and no single-row ceiling), and
    reassemble documents in original line order.  Pays the corpus-text
    shuffle the fast path avoids — row-for-row identical output
    (pinned by the fallback property test)."""
    pos_lines = df.select(
        F.col(id_col), F.posexplode(split_col).alias("__pos", "__line")
    ).select(
        F.col(id_col), "__pos", "__line", keyed_line(F.col("__line")).alias("__k")
    )
    kept = pos_lines.join(boiler_keys, "__k", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            join_sep if join_sep is not None else sep,
        ).alias("__text"),
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
    )
    return (
        df.select(F.col(id_col), F.size(split_col).cast("bigint").alias("n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def _bigram_rows(batches):
    """``bigram_lm_score``'s Arrow kernel: per document, its bigram
    counts plus one marker row per distinct token (``cur`` NULL).  At
    module level, so a worker that unpickles it imports the package and
    installs the zip guard (``worker.py``)."""
    # Vectorized bigram/vocabulary fold (r16, guide §4.2: the former
    # per-position tuple-dict fold was interpreted Python per
    # token).  One hash-based pd.factorize per BATCH; per document
    # the codes are densified (np.unique, C) so each bigram packs
    # into one int64 (local vocab ≤ doc length keeps Vd² far from
    # 2^63), np.unique(return_counts) yields the multiplicities,
    # and the distinct-token markers fall out of the same densify.
    # Exact-string equality throughout — identical rows to the dict
    # fold, in sorted rather than first-seen order (order never
    # survives the downstream aggregates).
    import numpy as np
    import pandas as pd

    for pdf in batches:
        docs = [
            (did, np.asarray(t, dtype=object))
            for did, t in zip(pdf["__id"], pdf["__toks"])
            if t is not None  # NULL text never produced token rows
        ]
        ids, prevs, curs, ms = [], [], [], []
        if docs:
            flat = np.concatenate([t for _, t in docs])
            if flat.size:
                codes, uniq = pd.factorize(flat, use_na_sentinel=False)
            else:
                codes = np.empty(0, dtype=np.int64)
                uniq = np.empty(0, dtype=object)
            uniq = np.asarray(uniq, dtype=object)
            pos = 0
            for did, t in docs:
                c = np.asarray(codes[pos : pos + t.size], dtype=np.int64)
                pos += t.size
                if c.size == 0:
                    continue
                du, dinv = np.unique(c, return_inverse=True)
                vd = np.int64(du.size + 1)
                b = dinv[:-1] * vd + dinv[1:]
                if b.size:
                    ub, m = np.unique(b, return_counts=True)
                    gprev = du[(ub // vd).astype(np.int64)]
                    gcur = du[(ub % vd).astype(np.int64)]
                    ids.append(np.full(ub.size, did, dtype=object))
                    prevs.append(uniq[gprev])
                    curs.append(uniq[gcur])
                    ms.append(np.asarray(m, dtype=np.int64))
                # vocabulary marker rows (cur=NULL); -1 marks NULL
                # multiplicity (real counts are always >= 1)
                ids.append(np.full(du.size, did, dtype=object))
                prevs.append(uniq[du])
                curs.append(np.full(du.size, None, dtype=object))
                ms.append(np.full(du.size, -1, dtype=np.int64))
        if ids:
            flat_m = np.concatenate(ms)
            out = {
                "__id": pd.Series(np.concatenate(ids), dtype=object),
                "prev": pd.Series(np.concatenate(prevs), dtype=object),
                "cur": pd.Series(np.concatenate(curs), dtype=object),
                "__m": pd.arrays.IntegerArray(flat_m, mask=flat_m < 0),
            }
        else:
            out = {
                "__id": [],
                "prev": [],
                "cur": [],
                "__m": pd.array([], dtype="Int64"),
            }
        yield pd.DataFrame(out)


def bigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    add_k: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the CCNet-style
    perplexity-bucket filter with the KenLM swapped for a bigram LM
    trained on the corpus itself (self-scoring finds the documents the
    corpus finds surprising: noise, tables, wrong-language spans).

    Per document: mean add-k-smoothed log-probability
    ``avg over positions of ln((c(prev,cur)+k) / (c(prev)+k*V))`` and a
    head/middle/tail tercile bucket over the whole corpus (head = most
    fluent), assigned by exact percent_rank with a doc-id tie-break so
    the bucketing is a pure function of the corpus.

    EVERY doc surfaces: a doc with fewer than 2 tokens has no bigram
    and gets ``n_bigrams=0, avg_logprob=NULL, lm_bucket=NULL`` — NULL
    bucket is the honest verdict (no evidence either way; the caller's
    keep-predicate decides how to treat it) and the row's presence
    keeps downstream keep-joins from silently dropping short docs.
    Zero-bigram docs never enter the tercile ranking, so buckets over
    the scored docs are unchanged.

    Scale shape: the per-doc bigram rows are MATERIALIZED once —
    corpus bigram counts, unigram context counts, the vocabulary size
    V and the scoring join all fold from that cached relation, so the
    corpus is tokenized once (plus an id-only column-pruned scan for
    the zero-bigram docs); V rides along as a broadcast 1-row aggregate
    (no driver-side scalar collect).  The scored per-doc summary (one
    3-column row per document) is cached too, and construction counts
    it: that count is the query's one construction job, and it only
    materializes earlier a relation the execution reads anyway.  The
    count gates the tercile rank (``sorts.global_ranked_adaptive``):
    up to 2M scored docs the rank is one single-task window; past that
    the range-partitioned ``global_ranked``, so no unpartitioned window
    ever holds a corpus-sized relation.  Past ~10^8 documents swap the
    rank for approx-percentile thresholds at the cost of
    hash-exactness.

    Measured (sf0.01, local[4] on 4 shared vCPUs; 5 interleaved
    process pairs, each the median of 3 warm runs of construction +
    ``toPandas``), the always-distributed rank → the gated rank (the
    second arm also ran with ``build_session``'s DataFrame debugging
    off):
    ``text_bigram_lm`` 14 → 3 Spark jobs, median 0.68 → 0.41 s;
    ``pipeline_curation_v2`` 24 → 13 jobs, 0.92 → 0.76 s.  Every pair
    was faster for both.
    """
    # ONE map-only Arrow kernel pass (r15): per-document bigram counts
    # (a local dict fold — the former posexplode → lead-window exchange
    # shuffled the token stream to compute adjacency that is row-local)
    # PLUS the per-doc distinct tokens as marker rows (cur=NULL), so the
    # vocabulary size V no longer needs its own second corpus
    # scan+explode — the corpus is now read ONCE into this cached
    # relation (plus the id-only column-pruned scan for empties below).
    from yet_another_map_reduce_spark.operators.dedup import _tokenized

    id_t = df.schema[id_col].dataType.simpleString()
    rows = (
        _tokenized(df, text_col, id_col)
        .mapInPandas(_bigram_rows, f"__id {id_t}, prev string, cur string, __m bigint")
        .withColumnRenamed("__id", id_col)
        .transform(tracked_cache)
    )
    docbig = rows.where(F.col("cur").isNotNull())
    bc = docbig.groupBy("prev", "cur").agg(F.sum("__m").alias("__cb"))
    pc = bc.groupBy("prev").agg(F.sum("__cb").alias("__cp"))
    vdf = rows.where(F.col("cur").isNull()).agg(
        F.countDistinct("prev").alias("__V")
    )

    term = (
        docbig.join(bc, ["prev", "cur"])
        .join(pc, "prev")
        .crossJoin(F.broadcast(vdf))
        .withColumn(
            "__lp",
            F.col("__m")
            * F.log(
                (F.col("__cb") + F.lit(add_k))
                / (F.col("__cp") + F.lit(add_k) * F.col("__V"))
            ),
        )
    )
    # materialized: the 3-column per-doc summary feeds the rank, the
    # empties' anti-join and (above the gate) the per-partition counts
    # inside global_ranked — without the cache each re-runs the scoring
    # join tree from docbig
    doc = term.groupBy(id_col).agg(
        F.sum("__m").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("__lp") / F.sum("__m"), 6).alias("avg_logprob"),
    ).transform(tracked_cache)
    # percent_rank over ALL scored docs, size-gated on the summary's
    # count (docstring, "Scale shape").  With the unique id tiebreaker
    # rank == row_number == percent_rank's RANK, so pr = (rank-1)/(n-1)
    # reproduces percent_rank() bit-for-bit.
    from yet_another_map_reduce_spark.operators.sorts import (
        global_ranked_adaptive,
    )

    ranked = global_ranked_adaptive(
        doc,
        [F.col("avg_logprob").desc(), F.col(id_col).asc()],
        "__r",
        total_col="__n",
        n=doc.count(),
    )
    pr = F.when(
        F.col("__n") > 1, (F.col("__r") - 1) / (F.col("__n") - 1)
    ).otherwise(F.lit(0.0))
    scored = ranked.select(
        F.col(id_col),
        "n_bigrams",
        "avg_logprob",
        F.when(pr < 1.0 / 3, F.lit("head"))
        .when(pr < 2.0 / 3, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("lm_bucket"),
    )
    # zero-bigram docs: an id-only anti-join against the (cached,
    # doc-count-sized) summary — one column-pruned scan of the corpus
    # id column, no token re-explode
    empties = (
        df.select(F.col(id_col))
        .join(doc.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(None).cast("double").alias("avg_logprob"),
            F.lit(None).cast("string").alias("lm_bucket"),
        )
    )
    return scored.unionByName(empties)


def build_vocab(df: DataFrame, text_col: str, vocab_size: int) -> DataFrame:
    """Corpus token vocabulary: the ``vocab_size`` most frequent tokens,
    ranked by (count desc, token asc) — the deterministic tie-break makes
    vocab ids a pure function of the corpus, stable across runs and
    layouts.  Returns ``(token, token_count, vocab_id)`` with ids 1..N.

    Scale shape: one map-side-partial count over the exploded tokens
    reduces the corpus to its distinct-token set, the top-N comes out of
    a distributed TakeOrdered (``orderBy().limit()`` — no global window
    over the full vocabulary), and only the N surviving rows pass
    through the id-assigning window.
    """
    from pyspark.sql import Window

    cnt = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("token_count"))
    )
    top = cnt.orderBy(F.col("token_count").desc(), F.col("token").asc()).limit(
        vocab_size
    )
    w = Window.orderBy(F.col("token_count").desc(), F.col("token").asc())
    return top.withColumn("vocab_id", F.row_number().over(w).cast("bigint"))


def oov_stats(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocab relation
    (any DataFrame with a ``token`` column, e.g. :func:`build_vocab`
    output) — the coverage check run before committing to a tokenizer
    vocabulary, and a cheap wrong-language/noise signal per document.

    The vocab is broadcast (vocab_size rows by construction), so the
    corpus is read once and never shuffled until the per-document
    aggregation on the id key.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    marked = tok.join(
        # distinct: the contract accepts ANY frame with a token column,
        # and a duplicate vocab row would duplicate every matching
        # corpus row through the left join, inflating n_tokens and
        # corrupting oov_rate's denominator
        F.broadcast(
            vocab.select("token").distinct().withColumn("__in_vocab", F.lit(True))
        ),
        "token",
        "left",
    )
    oov = F.col("__in_vocab").isNull().cast("bigint")
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov) / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


def pmi_cooccurrence(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_token_docs: int = 5,
    min_pair_docs: int = 5,
) -> DataFrame:
    """Document-level pointwise mutual information between token pairs:
    ``pmi(a,b) = ln(c_ab * N / (c_a * c_b))`` over document frequencies
    (each token counted once per doc) — the classic distributional
    signal behind collocation mining and embedding-free relatedness.

    Scale shape: the corpus reduces to its distinct (doc, token) pairs
    first (map-side partial distinct), tokens below ``min_token_docs``
    document frequency are cut BEFORE pair expansion — the expansion is
    quadratic in per-document vocabulary, so the frequency floor is the
    blowup guard, the same role ``max_bucket_size`` plays for LSH — and
    the pair self-join co-partitions on the document id.  A single ln
    per output row (no float summation), so round(6) is drift-free.
    """
    # materialized: doctok feeds the document-frequency count AND both
    # sides of the pair self-join — without the cache each branch
    # re-scans + re-explodes the corpus (r6 scan audit: 5 FileScans)
    doctok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .distinct()
        .transform(tracked_cache)
    )
    cnt = doctok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    # NO broadcast hint: the df >= min_token_docs token set grows with
    # the corpus (a vocabulary-sized relation), so forcing it
    # driver-side is an OOM at web scale.  Left to AQE, the join
    # broadcasts only while the filtered count relation is actually
    # under the threshold and falls back to a shuffle join beyond it.
    kept = doctok.join(cnt.where(F.col("__c") >= min_token_docs), "token")
    a = kept.select(
        F.col(id_col), F.col("token").alias("token_a"), F.col("__c").alias("__ca")
    )
    b = kept.select(
        F.col(id_col), F.col("token").alias("token_b"), F.col("__c").alias("__cb")
    )
    pairs = a.join(b, id_col).where(F.col("token_a") < F.col("token_b"))
    ndf = df.agg(F.count(F.lit(1)).cast("bigint").alias("__N"))
    return (
        pairs.groupBy("token_a", "token_b", "__ca", "__cb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_docs"))
        .where(F.col("pair_docs") >= min_pair_docs)
        .crossJoin(F.broadcast(ndf))
        .select(
            "token_a",
            "token_b",
            "pair_docs",
            F.col("__ca").alias("docs_a"),
            F.col("__cb").alias("docs_b"),
            F.round(
                F.log(
                    F.col("pair_docs")
                    * F.col("__N")
                    / (F.col("__ca") * F.col("__cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def hash_embed(
    df: DataFrame, text_col: str, id_col: str, dim: int = 16
) -> DataFrame:
    """Feature-hashing (hashing-trick) document vectors: each token
    lands in bucket ``md5_hash64(token) % dim``, giving a fixed-width
    sparse count vector per document with NO vocabulary state to train
    or ship — the classic bridge from raw text into the similarity
    stack (HashingTF's shape, built portably so any engine re-derives
    the exact same buckets).

    Returns sparse rows ``(id, dim, n, w)`` — ``w`` is the
    L2-normalized weight — exploded rather than assembled into an
    array so results stay canonicalizable and joinable.  One map-side-
    partial count on (id, bucket) plus a per-document window over at
    most ``dim`` rows.
    """
    from pyspark.sql import Window

    from yet_another_map_reduce_spark.functions import md5_hash64

    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).where(F.length("token") > 0)
    # the empty-token filter keeps token-free documents OUT of the
    # output (the documented contract): tokens('') is [''] — without
    # the filter every empty/whitespace doc got the identical
    # full-weight unit vector at bucket md5('')%dim, and all of them
    # became mutual nearest neighbors in any index built on top
    bucket = (md5_hash64("token") % dim).cast("bigint")
    cnt = tok.groupBy(F.col(id_col), bucket.alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy(id_col)
    return cnt.withColumn(
        "w", F.round(F.col("n") / F.sqrt(F.sum(F.col("n") * F.col("n")).over(w)), 6)
    )


def hash_embed_dense(
    df: DataFrame, text_col: str, id_col: str, dim: int = 16
) -> DataFrame:
    """:func:`hash_embed` densified to ``(id, embedding array<double>)``
    — the shape the similarity stack's index builders and searchers
    consume, so hashed text vectors flow straight into
    ``build_ivfpq_index`` / ``append_to_ivfpq_index`` (the streaming
    ingest pipeline's bridge from documents to the ANN index).

    The sparse rows collapse per document into a map, then a fixed
    ``dim``-wide array fills the holes with 0.0 — at most ``dim`` rows
    per document enter the collect_list, so the per-group state is
    model-sized, never corpus-sized.  Documents with NO tokens (empty
    normalized text) produce no sparse rows and are absent from the
    output, matching hash_embed."""
    sparse = hash_embed(df, text_col, id_col, dim)
    m = F.map_from_arrays(F.collect_list("dim"), F.collect_list("w"))
    return (
        sparse.groupBy(id_col)
        .agg(m.alias("__m"))
        .select(
            F.col(id_col),
            F.array(
                *[
                    F.coalesce(F.col("__m")[F.lit(i)], F.lit(0.0))
                    for i in range(dim)
                ]
            ).alias("embedding"),
        )
    )


def bm25_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """Okapi BM25 retrieval: rank documents for a bag of query terms —
    idf (Lucene's ``ln(1 + (N-df+0.5)/(df+0.5))`` form) times the
    saturated-tf factor with length normalization.  The full-text-search
    scoring function, as two aggregations and a broadcast join.

    Scale shape: tokens explode once; per-(doc, term) tf only for the
    |Q| query terms (the filter lands before the aggregation, so the
    shuffle carries query-term hits, not the corpus); document lengths
    and df/N are map-side-partial aggregates, df/N broadcast as a
    |Q|-row relation.  One ln per (term), fixed-order arithmetic per
    row, score rounded at 6 — ANSI-SQL replayable.
    """
    from pyspark.sql import Window

    # corpus terms come out of tokens() lowercased+trimmed; query terms
    # must go through the same normalization or an uppercase query term
    # silently matches nothing (dedup: a repeated query term must not
    # change df/tf arithmetic either way)
    query_terms = sorted(
        {t for t in (str(q).strip().lower() for q in query_terms) if t}
    )
    if not query_terms:
        raise ValueError("bm25_search: query_terms is empty after normalization")

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # lens and tf are each consumed by two branches (stats + scoring
    # join; dfreq + scoring join) — materializing these summary-sized
    # aggregates caps the corpus reads at the honest two (full-length
    # pass + query-term-filtered pass); without them the r6 scan audit
    # measured 4 FileScans
    lens = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("len_d")).transform(tracked_cache)
    stats = lens.agg(
        F.sum("len_d").alias("__lsum"), F.count(F.lit(1)).alias("__N")
    )
    hits = tok.where(F.col("term").isin(*query_terms))
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).transform(tracked_cache)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    avgdl = F.col("__lsum") / F.col("__N")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__N") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("len_d") / avgdl
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 6).alias("score"))
    )
    # top-k FIRST via distributed TakeOrdered (per-partition heaps,
    # driver merges k·P rows), THEN rank the k survivors — the previous
    # global row_number-then-filter pulled every scored doc through one
    # unpartitioned window task before discarding all but `top`.
    kept = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(top)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return kept.withColumn("qrank", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# Real BPE tokenizer (train merge ranks on the corpus, apply as a pure
# JVM expression).  Replaces the `bpe_ish_token_count` heuristic with
# actual learned byte-pair-encoding over the corpus's own statistics.
#
# Train-once lifecycle (the PQ/kmeans pattern, similarity.py): ONE
# shuffle reduces the corpus to its word-frequency table, the top
# `max_vocab_words` rows (KB-scale, Zipf-bounded) are collected, and the
# merge loop runs driver-side in pure deterministic Python — exactly how
# HuggingFace/SentencePiece train from pre-aggregated word counts.
# Application is pure codegen: wrap each word's characters, apply each
# merge in rank order as a literal `replace`, split — no Python, no UDF,
# fully replayable in an ANSI-SQL oracle (chained per-round CTEs with a
# scalar-subquery argmax reproduce the SAME training, so the oracle
# verifies training AND application end-to-end).
#
# Symbols are wrapped as `<sym>` so adjacent pairs share no characters
# (a bare space separator would make `replace` skip every other
# occurrence of back-to-back pairs) — safe because words come from
# `[a-z]+` extraction, so `<`/`>` can never appear inside a symbol.
# ---------------------------------------------------------------------------

#: pre-tokenizer contract shared by train + apply + oracle: lowercase,
#: alphabetic runs only
BPE_WORD_RE = "[a-z]+"


def _bpe_apply_merge(symbols: list[str], pair: tuple[str, str]) -> list[str]:
    """One merge over a symbol sequence, leftmost-first non-overlapping —
    the same semantics as a single left-to-right string `replace` pass."""
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == pair:
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _bpe_train_merges_naive(
    word_counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Reference trainer: full pair recount every round — O(merges x
    corpus symbols), fine for demo tables and as the property-test
    oracle for the incremental trainer, hopeless at a realistic 8k-32k
    merge vocabulary (hours of driver time)."""
    segs: list[tuple[list[str], int]] = [
        (list(w), n) for w, n in word_counts
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in segs:
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        mx = max(counts.values())
        best = min(p for p, c in counts.items() if c == mx)
        merges.append(best)
        segs = [(_bpe_apply_merge(s, best), n) for s, n in segs]
    return merges


def bpe_train_merges(
    word_counts: list[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a (word, count) table.

    Deterministic: each round merges the adjacent symbol pair with the
    highest count weighted by word frequency; ties break to the
    lexicographically smallest (a, b) — the same (count DESC, a ASC,
    b ASC) argmax the SQL oracle replays.  Stops early when no pair is
    left (every word fully merged).

    Incremental (the HuggingFace-tokenizers shape, required for
    realistic 8k-50k merge vocabularies): pair counts live in a dict
    maintained by per-word deltas — a merge touches only the words
    that contain its pair, subtracting their old adjacent pairs and
    adding the new ones — and each round's argmax comes from a
    lazy-invalidation max-heap keyed ``(-count, a, b)`` (exactly the
    naive argmax's (count DESC, pair ASC) order; stale heap entries
    are popped and dropped when their recorded count no longer
    matches).  Property-tested identical to
    :func:`_bpe_train_merges_naive`; cost is driven by words AFFECTED
    per merge (Zipf tail: few), not corpus size x merges."""
    import heapq

    segs: list[list[str]] = [list(w) for w, _ in word_counts]
    freq: list[int] = [n for _, n in word_counts]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str]] = []

    def bump(p: tuple[str, str], delta: int, i: int | None = None) -> None:
        c = counts.get(p, 0) + delta
        if c:
            counts[p] = c
            heapq.heappush(heap, (-c, p[0], p[1]))
        else:
            counts.pop(p, None)
        if i is not None:
            where.setdefault(p, set()).add(i)

    for i, syms in enumerate(segs):
        for p in zip(syms, syms[1:]):
            bump(p, freq[i], i)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        best = None
        while heap:
            negc, a, b = heap[0]
            if counts.get((a, b)) == -negc:
                best = (a, b)
                break
            heapq.heappop(heap)  # stale entry
        if best is None:
            break  # no pair left anywhere
        merges.append(best)
        for i in sorted(where.pop(best, ())):
            syms = segs[i]
            if best not in zip(syms, syms[1:]):
                continue  # stale membership from an earlier merge
            n = freq[i]
            for p in zip(syms, syms[1:]):
                bump(p, -n)
            segs[i] = _bpe_apply_merge(syms, best)
            for p in zip(segs[i], segs[i][1:]):
                bump(p, n, i)
    return merges


def bpe_learn(
    df: DataFrame,
    text_col: str,
    num_merges: int = 16,
    max_vocab_words: int = 4096,
) -> list[tuple[str, str]]:
    """Distributed word-count pass + driver-side merge training.

    Scale shape: the only corpus-sized work is ONE explode + groupBy
    shuffle whose output is the distinct-word table (Zipf: millions of
    rows at 100 TB, not corpus-sized); the collect is capped at
    ``max_vocab_words`` rows by a distributed TakeOrdered with a
    deterministic (count DESC, word ASC) tie-break."""
    vocab = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_WORD_RE), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(max_vocab_words)
    )
    wc = [(r["w"], int(r["cnt"])) for r in vocab.collect()]
    return bpe_train_merges(wc, num_merges)


#: syllable inventory for synthetic vocabulary: common English-ish
#: onsets/rimes so trained merges have real structure (shared prefixes/
#: suffixes across words), unlike uniform random letters
_BPE_SYLLABLES = (
    "th er on an re he in ed nd ha at en es of or nt ea ti to it st io "
    "le is ou ar as de rt ve ss ing ion ter com pro sta tion ment able "
    "con per cal ous ive ity ated ized"
).split()


def synthetic_word_counts(
    n_words: int, seed: int = 0, max_count: int = 10_000
) -> list[tuple[str, int]]:
    """Deterministic synthetic (word, count) table for training a
    realistic-size BPE vocabulary — the test corpus's 31 distinct words
    cannot support 8k+ merges, so scale work trains on this instead.

    Word i is 2-5 md5-chosen syllables from :data:`_BPE_SYLLABLES`
    (duplicated words are suffixed with a deterministic disambiguating
    letter run, keeping exactly ``n_words`` distinct rows), with a
    Zipf-ish count ``max_count // (i + 1) + 1``.  Pure function of
    ``(n_words, seed, max_count)`` — any engine can regenerate it.
    """
    import hashlib

    out: list[tuple[str, int]] = []
    seen: set[str] = set()
    syl = _BPE_SYLLABLES
    for i in range(n_words):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        parts = [syl[h[j] % len(syl)] for j in range(2 + h[5] % 4)]
        w = "".join(parts)
        while w in seen:
            w += "abcdefghijklmnopqrstuvwxyz"[h[6] % 26]
        seen.add(w)
        out.append((w, max_count // (i + 1) + 1))
    return out


#: ceiling for the chained-replace codegen apply path: one literal
#: ``replace`` per merge means a merge-table-deep expression tree, which
#: collapses codegen (or compiles for minutes) long before a realistic
#: 32k-merge vocabulary.  Beyond this, dispatch to the Arrow tier.
BPE_CODEGEN_MAX_MERGES = 32


def bpe_tokens(col: Column | str, merges: list[tuple[str, str]]) -> Column:
    """``array<string>`` of BPE tokens for a text column, as a pure JVM
    expression: extract ``[a-z]+`` words, wrap each character as
    ``<c>``, apply each trained merge in rank order as a literal
    ``replace``, split the wrappers back off, flatten across words.
    Everything stays inside whole-stage codegen — merges are string
    literals, exactly like the PQ LUTs.

    Structurally bounded at ``BPE_CODEGEN_MAX_MERGES`` (the expression
    tree is merge-table-deep): larger tables must go through
    :func:`bpe_tokens_arrow` — :func:`bpe_tokens_dispatch` picks
    automatically."""
    if len(merges) > BPE_CODEGEN_MAX_MERGES:
        raise ValueError(
            f"{len(merges)} merges exceeds the codegen chained-replace "
            f"ceiling ({BPE_CODEGEN_MAX_MERGES}); use bpe_tokens_arrow / "
            "bpe_tokens_dispatch for realistic vocabulary sizes"
        )
    c = F.col(col) if isinstance(col, str) else col
    words = F.regexp_extract_all(F.lower(c), F.lit(BPE_WORD_RE), F.lit(0))

    def encode(w: Column) -> Column:
        seq = F.regexp_replace(w, "(.)", "<$1>")
        for a, b in merges:
            seq = F.replace(seq, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        return F.split(F.regexp_replace(seq, "^<|>$", ""), "><")

    return F.flatten(F.transform(words, encode))


def _bpe_encode_word(
    word: str,
    ranks: dict[tuple[str, str], int],
    memo: dict[str, list[str]],
) -> list[str]:
    """Encode one word: repeatedly merge the LOWEST-rank adjacent pair
    present (all its occurrences, leftmost-first) until none applies.

    For a table produced by BPE training this is provably identical to
    applying every merge once in rank order (the chained-replace /
    oracle semantics): a merge at rank r only ever creates pairs
    containing its new symbol, which no earlier-rank merge can
    reference — training counted that pair only after the symbol
    existed — so rank-order application never "misses" a late-created
    earlier-rank occurrence.  The equivalence is pinned by test against
    :func:`bpe_tokens` on the same trained table."""
    got = memo.get(word)
    if got is not None:
        return got
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, pair
        if best is None:
            break
        syms = _bpe_apply_merge(syms, best)
    memo[word] = syms
    return syms


def bpe_tokens_arrow(merges: list[tuple[str, str]]):
    """Arrow-tier BPE apply for realistic merge tables (32k+): returns
    a vectorized ``pandas_udf`` Column function ``text -> array<string>``.

    The merge table rides in the task closure as a rank dict (KB-to-MB
    scale model parameters, same shipping pattern as the IVF
    centroids); per batch the encoder runs the standard min-rank merge
    loop with a per-task word memo — Zipf makes the memo hit rate high,
    so cost tracks DISTINCT words per batch, not tokens.  Map-only:
    no shuffle, no driver involvement after the closure ships."""
    import re

    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(p): i for i, p in enumerate(merges)}
    pat = re.compile(BPE_WORD_RE)

    @pandas_udf("array<string>")
    def _tok(s):  # pd.Series[str] -> pd.Series[list[str]]
        memo: dict[str, list[str]] = {}

        def one(t):
            if t is None:
                return None
            out: list[str] = []
            for w in pat.findall(t.lower()):
                out.extend(_bpe_encode_word(w, ranks, memo))
            return out

        return s.map(one)

    return _tok


#: corpus-size arm of the dispatch: past this many documents the Arrow
#: encoder wins even at tiny merge tables — its per-task word
#: memoization makes encode cost track DISTINCT words while the codegen
#: chain re-derives every token occurrence (100× sweep: 16 merges,
#: codegen 71.5 s vs Arrow ~12 s on the 100× replica).  Below it the
#: codegen tier's zero-Python, zero-serialization path wins on fixed
#: overhead.
BPE_CODEGEN_MAX_DOCS = 100_000


def bpe_tokens_dispatch(
    col: Column | str,
    merges: list[tuple[str, str]],
    n_docs: int | None = None,
) -> Column:
    """Two-axis tier dispatch: chained-replace codegen only when BOTH
    the merge table is demo-scale (past ``BPE_CODEGEN_MAX_MERGES`` the
    expression tree is structurally unbuildable) AND the corpus is
    small (``n_docs``, when the caller knows it — a parquet-metadata
    count; past ``BPE_CODEGEN_MAX_DOCS`` the word-memoized Arrow
    encoder wins regardless of merge count).  Both tiers produce
    identical tokens (equivalence property-tested), so the gate is
    plan-only."""
    if len(merges) <= BPE_CODEGEN_MAX_MERGES and (
        n_docs is None or n_docs <= BPE_CODEGEN_MAX_DOCS
    ):
        return bpe_tokens(col, merges)
    c = F.col(col) if isinstance(col, str) else col
    return bpe_tokens_arrow(merges)(c)


def bpe_token_count(
    col: Column | str,
    merges: list[tuple[str, str]],
    n_docs: int | None = None,
) -> Column:
    """Learned-tokenizer token count — the drop-in upgrade for
    ``bpe_ish_token_count`` wherever trained merges are available."""
    return F.size(bpe_tokens_dispatch(col, merges, n_docs))
