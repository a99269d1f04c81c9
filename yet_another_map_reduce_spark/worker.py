"""What a Spark Python worker runs of this package, kept light.

A worker imports the package whenever it unpickles a package function
by reference, and the package's ``__init__`` imports this module and
installs its zip guard.  So this module imports only the standard
library (and ``caching``, which does too at run time): it must not pull
in ``operators`` (every operator, pandas and numpy), which the workers
of ``run_inprocess`` would otherwise load for nothing.

Zip guard
---------
Before each task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and on CPython 3.10-3.12 each
``zipimport.zipimporter`` over that zip and the py4j zip (16 of them
in a worker) then re-reads its archive's whole central directory.
CPython 3.13 made this lazy.

:func:`install_zip_guard` makes ``zipimporter.invalidate_caches``
re-read an archive only when its ``caching.data_version`` (mtime_ns and
size) changed since that importer last read it.  A changed archive is
still seen after ``invalidate_caches()``; an unchanged one is not
re-read.  The guard acts only inside a Spark Python worker, so the
driver's importer stays the stdlib one.  The first task in each worker
still pays once: its ``invalidate_caches()`` runs before the package is
imported.

Measured on local[4] (local[1] for the first two), 4 shared vCPUs,
Python 3.11, pyspark 4.1 from ``pyspark.zip``, without → with the guard:

- ``importlib.invalidate_caches()`` in a worker: 75 ms → 0.07 ms;
- a warm 1-task job in a reused worker, submit to result: 0.094 →
  0.063 s (medians of 30 jobs, two sessions each);
- perfbench ``verbs``, 10 alternating pairs: ``wall_s`` 1.125 → 0.939
  s, ``run_inprocess`` over 150k lines (``mr.inprocess``) 0.45 → 0.28
  s; ``curation`` ``wall_s`` 0.744 → 0.657 s.

The fold and the key split live here, not in ``operators/mapreduce.py``:
a function there makes each worker that unpickles it import the whole
operator library, pandas and numpy.  With them there instead, in 5
alternating pairs against this layout, verbs ``cold_pass_s`` was 3.59 s
against 3.20 s, ``peak_rss_mb`` 1761 against 1440 and ``wall_s`` 0.955
against 0.935 s.

Remove the guard once the engine requires Python >= 3.13.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Callable, Iterable, Iterator

from yet_another_map_reduce_spark.caching import data_version

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` under the guard."""
    # stamp before the read: an archive rewritten during the read keeps
    # the older stamp, so the next call reads it again
    stamp = data_version(self.archive)
    if stamp != "nofp" and getattr(self, "_read_stamp", None) == stamp:
        return
    _STOCK_INVALIDATE(self)
    self._read_stamp = stamp


def install_zip_guard() -> None:
    """Install the zip guard in this process if it is a Spark Python
    worker on CPython < 3.13 that imports from a zip; idempotent."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    if not importers:
        return  # pyspark from site-packages: nothing re-reads a zip
    # A worker imports the package while it unpickles a task, after
    # setup_spark_files re-read every archive for that task: what each
    # importer holds is the archive as it is now.
    for imp in importers:
        imp._read_stamp = data_version(imp.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def split_key_value(line: str) -> tuple[str, str]:
    """``run_inprocess``'s framing: the key is the text before the first
    comma (the reference's ``Worker/worker.py:122``), the value the rest
    (empty when the line has no comma)."""
    key, _, value = line.partition(",")
    return key, value


def reduce_groups(
    reducer: Callable[[str, Iterator[str]], Iterable[str]],
    items: Iterator[tuple[str, str]],
) -> Iterator[str]:
    """``run_inprocess``'s reduce fold: ``reducer(key, values)`` once per
    run of equal keys in a key-sorted partition."""
    current_key: str | None = None
    buf: list[str] = []
    for k, v in items:
        if k != current_key:
            if current_key is not None:
                yield from reducer(current_key, iter(buf))
            current_key, buf = k, [v]
        else:
            buf.append(v)
    if current_key is not None:
        yield from reducer(current_key, iter(buf))
