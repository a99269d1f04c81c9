"""Shared setup and timing for the scripts in this directory.

Importing it puts the repository root on ``sys.path``, found from this
file, so a script runs from any working directory.  ``median_s`` is the
one timer and ``warn_if_loaded`` the one co-tenant guard.

Usage, at the top of a script in ``scripts/``:

    import _measure  # noqa: F401  (repo root on sys.path)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def median_s(fn, runs: int = 3) -> float:
    """Median wall seconds of ``runs`` calls of ``fn``, after one untimed
    warm-up call (plan compile, JIT, any train-once model build)."""
    fn()
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def warn_if_loaded(threshold: float = 4.0) -> None:
    """Co-tenant guard: a loaded box inflates readings 3-30x.  Warn
    loudly so the reading is treated as an upper bound, not frozen or
    'fixed'."""
    load = os.getloadavg()[0]
    if load > threshold:
        print(
            f"WARNING: loadavg {load:.1f} > {threshold} - another process"
            " is sharing this box; treat these timings as upper bounds"
            " and re-measure idle before freezing/diagnosing.",
            flush=True,
        )
