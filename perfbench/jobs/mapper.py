"""Map a purchases line (6 tab-separated fields) to ``location,cost``.

Runs as a stdin/stdout streaming mapper (``-mr``) and is imported for
``run_inprocess``.
"""

import sys


def map_line(line: str):
    fields = line.rstrip("\n").split("\t")
    if len(fields) == 6:
        yield f"{fields[2]},{fields[4]}"


if __name__ == "__main__":
    for raw in sys.stdin:
        for out in map_line(raw):
            sys.stdout.write(out + "\n")
