"""Reduce ``location,cost`` lines to ``location,<max cost>``.

Runs as a stdin/stdout streaming reducer over key-sorted lines (``-mr``)
and is imported for ``run_inprocess``, which hands it one key's values.
"""

import sys


def reduce_key(key: str, values):
    yield f"{key},{max(float(v) for v in values)}"


def _grouped(lines):
    key, values = None, []
    for line in lines:
        k, v = line.rstrip("\n").split(",", 1)
        if k != key and key is not None:
            yield key, values
            values = []
        key = k
        values.append(v)
    if key is not None:
        yield key, values


if __name__ == "__main__":
    for k, vs in _grouped(sys.stdin):
        for out in reduce_key(k, vs):
            sys.stdout.write(out + "\n")
