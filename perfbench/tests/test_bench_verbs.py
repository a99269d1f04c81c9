"""The verbs workload's generator, its expected answer and its map-reduce job."""

import os
import subprocess
import sys

from perfbench.jobs.mapper import map_line
from perfbench.jobs.reducer import reduce_key
from perfbench.workloads import JOBS_DIR, expected_max, generate_lines

HAND = [
    "2012-01-01\t09:00\tstore-001\tbooks\t10.50\tcash",
    "2012-01-01\t09:05\tstore-002\ttoys\t3.00\tvisa",
    "2012-01-02\t10:00\tstore-001\tgames\t99.99\tamex",
    "2012-01-03\t11:00\tstore-001\tbaby\t7.25\tcash",
    "2012-01-03\t11:30\tstore-010\tmusic\t0.01\tvisa",
]


def test_generator_is_deterministic_per_seed():
    assert generate_lines(7, 500) == generate_lines(7, 500)
    assert generate_lines(7, 500) != generate_lines(8, 500)


def test_generated_lines_have_the_reference_format():
    lines = generate_lines(3, 2000)
    assert all(len(line.split("\t")) == 6 for line in lines)
    locs = [line.split("\t")[2] for line in lines]
    # skewed: the most frequent location is far above the mean share
    top = max(locs.count(x) for x in set(locs))
    assert top > 5 * len(locs) / len(set(locs))


def test_expected_answer_on_a_hand_built_case():
    assert expected_max(HAND) == ["store-001,99.99", "store-002,3.0", "store-010,0.01"]


def test_inprocess_functions_give_the_expected_answer():
    by_key = {}
    for line in HAND:
        for out in map_line(line):
            k, v = out.split(",", 1)
            by_key.setdefault(k, []).append(v)
    got = sorted(o for k, vs in by_key.items() for o in reduce_key(k, iter(vs)))
    assert got == expected_max(HAND)


def test_streaming_scripts_give_the_expected_answer():
    def pipe(script, text):
        return subprocess.run([sys.executable, os.path.join(JOBS_DIR, script)],
                              input=text, capture_output=True, text=True, check=True).stdout

    mapped = pipe("mapper.py", "\n".join(HAND + ["malformed line"]) + "\n")
    reduced = pipe("reducer.py", "".join(sorted(mapped.splitlines(keepends=True))))
    assert sorted(reduced.splitlines()) == expected_max(HAND)
