"""Scalar/array expression helpers shared across operators.

Everything here builds *Column expressions* (JVM-side, codegen-friendly);
there are no Python UDFs in this module.  Several helpers exist to keep
Spark results bit-identical to an ANSI-SQL oracle (DuckDB):

- ``md5_hash64``: a portable 60-bit integer hash.  Spark's native
  ``xxhash64``/``hash`` have no DuckDB equivalent, so oracle-checked
  operators hash via an md5 prefix instead (same value in any engine).
- ``normalize_text`` / ``tokens`` / ``shingles``: deterministic text
  pipeline primitives used by dedup and text analysis.
- ``cosine_similarity``: pure-expression cosine over ``array<T>``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# portable hashing
# ---------------------------------------------------------------------------


def md5_hash64(col: Column | str, seed: int | None = None) -> Column:
    """60-bit integer hash of a string column, reproducible in ANSI SQL.

    Spark:  conv(substr(md5(x), 1, 15), 16, 10) :: bigint
    DuckDB: ('0x' || substr(md5(x), 1, 15)) :: bigint

    15 hex digits = 60 bits < 2^63, so the bigint cast never overflows.
    ``seed`` concatenates a salt, giving independent hash families for
    MinHash signatures.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("string")  # md5 needs string/binary; numeric keys welcome
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# text primitives
# ---------------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse + trim: the canonical form used by
    fingerprinting and near-dup hashing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


# CONVENTION (deliberate, decided r15): ``tokens('') == ['']`` — one
# empty-string token — so ``token_count('') == 1``.  This is the native
# ``split`` semantics in BOTH engines (Spark ``split`` and DuckDB
# ``string_split``), which is what keeps every oracle a plain
# cross-engine expression; carving the empty case out would wrap every
# tokens() call site (dozens, several in hot paths) in a ``when()`` on
# both sides to chase a value no curation metric depends on: empty docs
# are surfaced by ``char_count == 0`` / quality filters, ``hash_embed``
# special-cases them (r14), and the short-doc report operators
# (decontaminate, boilerplate, bigram-LM) emit explicit zero-count rows
# regardless of the token convention.  Callers that need linguistic
# token counts should filter ``length(trim(text)) > 0`` first.
# (Module-level comment on purpose: the verification-provenance
# fingerprint hashes function SOURCE, and a docstring edit here would
# needlessly mark every tokens-dependent query rewritten-since-green.)
def tokens(col: Column | str) -> Column:
    """Whitespace tokens of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def shingles(toks: Column | str, k: int = 3) -> Column:
    """Word k-grams of a token-array column → array<string>, one
    ``array_join(slice(toks, i, k), ' ')`` per complete window (empty
    if fewer than k tokens; for a NULL array, NULL under ANSI mode, the
    Spark 4 default, and empty otherwise, where ``size(NULL)`` is -1).
    The word k-gram behind ``dedup.shingle_sets`` and
    ``text.decontaminate``.

    Pass the tokens as a column of their own projection (``tokens(...)
    .alias(...)`` selected first), not the ``tokens`` expression inline:
    this expression reads the array twice (its size and the slice), so
    Catalyst keeps that projection and tokenizes once per row.  An array
    read only ONCE, inside a lambda, is inlined into it and re-evaluated
    per element (MinHash over sf0.1: 2.8 s against 0.69 s when the
    hash array had its own projection).
    """
    t = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(t)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
    )


# ---------------------------------------------------------------------------
# vector primitives (array<float|double> embeddings)
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays via zip_with + aggregate
    (JVM-side; no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two arrays, computed in double precision.

    Cast float arrays to double *before* multiplying so the result is
    comparable with engines that compute in double (e.g. DuckDB's
    list_cosine_similarity).
    """
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    # try_divide: zero-norm input gives NULL, not an ANSI error
    return F.try_divide(dot(ad, bd), norm(ad) * norm(bd))


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) interleaved key over non-negative int columns.

    Sorting or range-partitioning by this key clusters rows that are
    close in EVERY dimension into the same files, so parquet min/max
    row-group stats prune multi-dimension range predicates — the
    data-skipping trick behind Delta/Iceberg ZORDER, here as a plain
    expression (pure bit arithmetic, whole-stage codegen, no UDF).

    Columns must already be non-negative ints < 2**bits (rank/bucket
    upstream values first when they aren't).
    """
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(ncols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(ncols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + i)
    return z
