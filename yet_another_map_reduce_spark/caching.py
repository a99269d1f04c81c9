"""Operator-owned cache lifecycle.

Several operators cache an intermediate relation that their returned
(lazy) DataFrame consumes more than once — tfidf's term frequencies,
bigram/PMI tokenizations, BM25 lengths, pagerank's edges/degrees,
semantic-dedup cluster assignments, funnel events, and the per-query
corpus caches in queries.py.  The operator cannot unpersist inside
itself (the consumer has not run yet), and a long-lived session that
invokes these operators repeatedly would otherwise accumulate
InMemoryRelations until LRU eviction churns storage memory.

``tracked_cache`` is the single chokepoint: it caches the relation and
records it so ``release_operator_caches()`` can unpersist everything an
operator ever cached — the explicit release handle for long-lived
sessions.  It never touches caches the USER created directly, unlike
``spark.catalog.clearCache()``.

Concurrency contract: the tracker itself is lock-guarded, so composing
plans from multiple threads is safe.  ``release_operator_caches()``
however is a BETWEEN-JOBS operation: it unpersists relations that
another thread's in-flight query may still be consuming.  That stays
correct (Spark recomputes evicted partitions from lineage) but turns a
cache hit into a recompute — call it only when no tracked-operator
query is running.  Entries pin their DataFrame (and thus plan +
session) references until released; release drops every entry,
including those from already-stopped SparkSessions (unpersist on a
stopped session is a no-op here, and the entry is discarded either
way, so dead sessions cannot leak through the tracker).

``trained`` is the one memo for driver-side models (BPE merges, PQ
codebooks, corpus row counts): trained once per DATA VERSION of the
files they were learned from, then shared by every query in the
process.  The key is each source file's ``data_version`` (mtime_ns and
size), so data regenerated at the same path retrains instead of
silently reusing a stale model.  The memo holds plain Python values,
never relations, and is independent of the relation tracker above.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterable
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # stdlib-only at run time: worker.py imports data_version
    from pyspark.sql import DataFrame
    from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_MEMO: dict[tuple, object] = {}


def tracked_cache(
    df: DataFrame, level: StorageLevel | None = None
) -> DataFrame:
    """``df.cache()`` (or ``persist(level)``) plus lifecycle tracking."""
    out = df.persist(level) if level is not None else df.cache()
    with _LOCK:
        _TRACKED.append(out)
    return out


def release_operator_caches() -> int:
    """Unpersist every operator-tracked cached relation; returns how
    many were released.  Blocking=False: eviction proceeds async, new
    jobs simply recompute.  See the module docstring for the
    between-jobs contract."""
    with _LOCK:
        tracked, _TRACKED[:] = list(_TRACKED), []
    released = 0
    for df in tracked:
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return released


def tracked_count() -> int:
    with _LOCK:
        return len(_TRACKED)


def data_version(path: str) -> str:
    """Identity of a data file as ``{mtime_ns:x}_{size:x}``, or
    ``"nofp"`` when it cannot be stat'ed.  The one place the repo
    decides whether a file changed: model memo keys and persisted-index
    directory names both derive from it."""
    try:
        st = os.stat(path)
    except OSError:
        return "nofp"
    return f"{st.st_mtime_ns:x}_{st.st_size:x}"


def trained(files: Iterable[str], params: tuple, fn: Callable[[], object]):
    """``fn()``, memoized per (each file's absolute path and
    ``data_version``, ``params``).  ``params`` names the model and its
    hyperparameters; ``fn`` trains it from those files."""
    key = (
        tuple((os.path.abspath(f), data_version(f)) for f in files),
        params,
    )
    if key not in _MEMO:
        _MEMO[key] = fn()
    return _MEMO[key]
