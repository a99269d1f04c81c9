"""Fidelity tests for the generic MapReduce surface (reference F3-F7).

The strongest check in the repo: run the reference's OWN mapper.py and
reducer.py (unmodified, from /root/reference) through the Spark compat
layer over the reference's own data.txt, and require byte-equality with
the golden output the reference repo committed from a real 3-worker run
(/root/reference/Client/temp/data_part-00000.txt — verified in
SURVEY.md §5 to be a true input→output golden pair).
"""

from __future__ import annotations

import os
import random
import shlex
import subprocess
import sys

import pytest

from yet_another_map_reduce_spark.operators.mapreduce import (
    run_inprocess,
    run_streaming_job,
)

REF = "/root/reference"
GOLDEN = os.path.join(REF, "Client", "temp", "data_part-00000.txt")

needs_reference = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference repo not present"
)


def _golden_lines() -> list[str]:
    with open(GOLDEN) as fh:
        return sorted(line.rstrip("\n") for line in fh if line.strip())


@needs_reference
def test_streaming_job_matches_reference_golden(spark):
    """The script transformations with the verbatim reference programs
    reproduce the reference's committed end-to-end result, byte for
    byte."""
    out = run_streaming_job(
        spark,
        input_path=os.path.join(REF, "data.txt"),
        mapper_cmd=f"{sys.executable} {os.path.join(REF, 'mapper.py')}",
        reducer_cmd=f"{sys.executable} {os.path.join(REF, 'reducer.py')}",
        num_reducers=3,
    )
    got = sorted(r["value"] for r in out.collect() if r["value"].strip())
    assert got == _golden_lines()


@needs_reference
def test_inprocess_matches_reference_golden(spark):
    """The in-process fast path computes the same result with Python
    callables implementing the same contract (no subprocess pipes)."""

    def mapper(line: str):
        data = line.strip().split("\t")
        if len(data) == 6:
            yield f"{data[2]},{data[4]}"

    def reducer(key: str, values):
        best = 0.0
        for v in values:
            if float(v) > best:
                best = float(v)
        yield f"{key},{best}"

    out = run_inprocess(
        spark,
        input_path=os.path.join(REF, "data.txt"),
        mapper=mapper,
        reducer=reducer,
        num_reducers=3,
    )
    got = sorted(r["value"] for r in out.collect() if r["value"].strip())
    assert got == _golden_lines()


def test_wordcount_roundtrip(spark, tmp_path):
    """Generic contract on fresh data: wordcount via the in-process
    surface, output written as text part files (F10) and read back."""
    src = tmp_path / "input.txt"
    src.write_text("a b a\nc b a\n")

    def mapper(line: str):
        for tok in line.split():
            yield f"{tok},1"

    def reducer(key: str, values):
        yield f"{key},{sum(int(v) for v in values)}"

    out_dir = str(tmp_path / "out")
    out = run_inprocess(
        spark, str(src), mapper, reducer, num_reducers=2, output_path=out_dir
    )
    got = dict(line.split(",") for line in (r["value"] for r in out.collect()))
    assert got == {"a": "3", "b": "2", "c": "1"}
    # part files exist and round-trip
    back = spark.read.text(out_dir)
    assert back.count() == 3


@needs_reference
def test_cli_mr_reproduces_reference_golden(spark, tmp_path):
    """The `python -m yet_another_map_reduce_spark -mr` facade (the
    reference client's third verb, Client/client.py:47-71,126) runs the
    verbatim reference mapper/reducer over the reference's data.txt and
    reproduces the committed golden output through the CLI path."""
    from yet_another_map_reduce_spark.__main__ import main

    out_dir = str(tmp_path / "mr_out")
    rc = main(
        [
            "-mr",
            os.path.join(REF, "data.txt"),
            os.path.join(REF, "mapper.py"),
            os.path.join(REF, "reducer.py"),
            "--reducers",
            "3",
            "--output",
            out_dir,
        ],
        spark=spark,
    )
    assert rc == 0
    got = sorted(
        line.rstrip("\n")
        for f in os.listdir(out_dir)
        if f.startswith("part-")
        for line in open(os.path.join(out_dir, f))
        if line.strip()
    )
    assert got == _golden_lines()


def test_cli_write_then_read_roundtrip(spark, tmp_path, capsys):
    """-w registers the file under its stem; -r resolves (bare filename
    accepted, like the reference's filename.split('.')[0]), merges,
    SORTS, and prints — the reference read contract."""
    from yet_another_map_reduce_spark.__main__ import main

    src = tmp_path / "greet.txt"
    src.write_text("b,2\na,1\nc,3\n")
    cat = str(tmp_path / "cat")
    assert main(["--catalog", cat, "-w", str(src)], spark=spark) == 0
    out_file = tmp_path / "merged.txt"
    assert (
        main(
            ["--catalog", cat, "-r", "greet.txt", "--out", str(out_file)],
            spark=spark,
        )
        == 0
    )
    printed = capsys.readouterr().out
    assert "a,1\nb,2\nc,3" in printed
    assert out_file.read_text() == "a,1\nb,2\nc,3\n"


def test_cli_write_missing_file_errors(spark, tmp_path):
    from yet_another_map_reduce_spark.__main__ import main

    rc = main(
        ["--catalog", str(tmp_path / "cat"), "-w", str(tmp_path / "nope.txt")],
        spark=spark,
    )
    assert rc == 2


def test_cli_read_unknown_dataset_errors_cleanly(spark, tmp_path, capsys):
    from yet_another_map_reduce_spark.__main__ import main

    rc = main(["--catalog", str(tmp_path / "cat"), "-r", "nosuch.txt"], spark=spark)
    assert rc == 2
    assert "not found" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# Self-contained streaming tests: mapper and reducer scripts written here,
# so run_streaming_job is exercised without the reference repo.

MAX_MAPPER = """\
import sys
for raw in sys.stdin:
    f = raw.rstrip("\\n").split("\\t")
    if len(f) == 6:
        sys.stdout.write(f"{f[2]},{f[4]}\\n")
"""

# a streaming reducer: key-sorted 'key,value' lines in, one max per key out
MAX_REDUCER = """\
import sys
key, best = None, None
for raw in sys.stdin:
    k, v = raw.rstrip("\\n").split(",", 1)
    if k != key:
        if key is not None:
            sys.stdout.write(f"{key},{best}\\n")
        key, best = k, float(v)
    else:
        best = max(best, float(v))
if key is not None:
    sys.stdout.write(f"{key},{best}\\n")
"""

IDENTITY = """\
import sys
sys.stdout.write(sys.stdin.read())
"""


def _script(tmp_path, name: str, body: str) -> str:
    path = tmp_path / name
    path.write_text(body)
    return f"{shlex.quote(sys.executable)} {shlex.quote(str(path))}"


def _purchases(path, n: int = 3000, seed: int = 7) -> list[str]:
    """Purchases lines in the reference format, location frequency ~ 1/rank."""
    rng = random.Random(seed)
    locs = [f"store-{i:02d}" for i in range(40)]
    where = rng.choices(locs, [1.0 / (i + 1) for i in range(len(locs))], k=n)
    lines = [
        f"2012-01-{rng.randint(1, 28):02d}\t09:00\t{loc}\ttoys\t"
        f"{rng.randint(1, 50000) / 100:.2f}\tcash"
        for loc in where
    ]
    path.write_text("\n".join(lines) + "\n")
    return lines


def _max_per_key(lines: list[str]) -> list[str]:
    """The plain Python fold: sorted ``location,<max cost>`` lines."""
    best: dict[str, float] = {}
    for line in lines:
        f = line.split("\t")
        best[f[2]] = max(best.get(f[2], float("-inf")), float(f[4]))
    return sorted(f"{k},{v}" for k, v in best.items())


@pytest.mark.parametrize("num_reducers", [1, 3])
def test_streaming_job_matches_inprocess_and_python_fold(spark, tmp_path, num_reducers):
    """On skewed keys, the external programs, the in-process path and a
    plain Python fold give the same max-per-key lines."""
    src = tmp_path / "purchases.txt"
    want = _max_per_key(_purchases(src))

    streamed = run_streaming_job(
        spark,
        str(src),
        _script(tmp_path, "mapper.py", MAX_MAPPER),
        _script(tmp_path, "reducer.py", MAX_REDUCER),
        num_reducers,
    )

    def mapper(line: str):
        f = line.split("\t")
        if len(f) == 6:
            yield f"{f[2]},{f[4]}"

    def reducer(key: str, values):
        yield f"{key},{max(float(v) for v in values)}"

    inproc = run_inprocess(spark, str(src), mapper, reducer, num_reducers)
    assert sorted(r[0] for r in streamed.collect()) == want
    assert sorted(r[0] for r in inproc.collect()) == want


def test_streaming_job_identity_is_byte_exact(spark, tmp_path):
    """Tabs, \\x01, a literal \\N, an empty line, edge spaces, a line
    without a comma and unicode pass both programs unchanged."""
    lines = ["a\tb,1", "soh\x01in,2", "\\N", "", "  lead,trail  ", "nocomma", "ünï,çø", "x,\t"]
    src = tmp_path / "odd.txt"
    src.write_text("\n".join(lines) + "\n", encoding="utf-8")
    ident = _script(tmp_path, "ident.py", IDENTITY)
    out = run_streaming_job(spark, str(src), ident, ident, num_reducers=2)
    assert sorted(r[0] for r in out.collect()) == sorted(lines)


def test_streaming_command_keeps_quotes_backslashes_and_braces(spark, tmp_path):
    """The command reaches the shell verbatim through the SQL literal and
    spark.sql's formatter."""
    src = tmp_path / "in.txt"
    src.write_text("x\n")
    emit = "cat >/dev/null; printf '%s\\n' 'q'\"'\"'{x}\\y,1'"
    out = run_streaming_job(spark, str(src), emit, "awk '{ print }'", num_reducers=1)
    assert [r[0] for r in out.collect()] == ["q'{x}\\y,1"]


def test_streaming_job_plan_and_partitions(spark, tmp_path):
    """The programs run as script transformations over a file scan (no
    RDD-backed scan, i.e. no Python rows) and the output keeps one
    partition, and one part file, per reducer."""
    src = tmp_path / "purchases.txt"
    _purchases(src)
    out_dir = tmp_path / "out"
    out = run_streaming_job(
        spark,
        str(src),
        _script(tmp_path, "mapper.py", MAX_MAPPER),
        _script(tmp_path, "reducer.py", MAX_REDUCER),
        num_reducers=4,
        output_path=str(out_dir),
    )
    assert out.rdd.getNumPartitions() == 4
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ScriptTransformation" in plan
    assert "Scan ExistingRDD" not in plan
    assert len([f for f in os.listdir(out_dir) if f.startswith("part-")]) == 4


@pytest.mark.parametrize("which", ["streaming", "inprocess"])
def test_mapreduce_construction_launches_no_spark_job(spark, tmp_path, which):
    """Building either map-reduce plan without an output path runs
    nothing: no schema-inference job."""
    src = tmp_path / "in.txt"
    src.write_text("a,1\nb,2\n")
    ident = _script(tmp_path, "ident.py", IDENTITY)
    sc = spark.sparkContext
    group = f"mapreduce_construction_{which}"
    sc.setJobGroup(group, group)
    try:
        if which == "streaming":
            out = run_streaming_job(spark, str(src), ident, ident, num_reducers=2)
        else:
            out = run_inprocess(spark, str(src), lambda line: [line], lambda k, vs: [k], 2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert out.columns == ["value"]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_streaming_job_fails_on_failed_program(spark, tmp_path):
    """A mapper that exits non-zero fails the job instead of returning
    the lines it wrote before failing."""
    src = tmp_path / "in.txt"
    src.write_text("a,1\nb,2\n")
    bad = _script(tmp_path, "bad.py", 'import sys\nprint("a,1")\nsys.exit(1)\n')
    ident = _script(tmp_path, "ident.py", IDENTITY)
    out = run_streaming_job(spark, str(src), bad, ident, num_reducers=1)
    with pytest.raises(Exception, match="exit"):
        out.collect()


def test_streaming_output_carriage_return_splits_line(spark, tmp_path):
    """Deliberate non-reproduction (module docstring): a \\r inside a
    program's output line ends that line, as on input."""
    src = tmp_path / "in.txt"
    src.write_text("x\n")
    cr = _script(tmp_path, "cr.py", 'import sys\nsys.stdin.read()\nsys.stdout.write("a\\rb,1\\n")\n')
    ident = _script(tmp_path, "ident.py", IDENTITY)
    out = run_streaming_job(spark, str(src), cr, ident, num_reducers=1)
    assert sorted(r[0] for r in out.collect()) == ["a", "b,1"]


def test_cli_mr_runs_outside_repo_without_package_on_workers(tmp_path):
    """`-mr` from another working directory, with the repo only on the
    driver's sys.path (not PYTHONPATH): no worker imports the package."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = tmp_path / "purchases.txt"
    lines = _purchases(src, n=400)
    (tmp_path / "mapper.py").write_text(MAX_MAPPER)
    (tmp_path / "reducer.py").write_text(MAX_REDUCER)
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from yet_another_map_reduce_spark.__main__ import main\n"
        "raise SystemExit(main(['-mr', 'purchases.txt', 'mapper.py', 'reducer.py',"
        " '--reducers', '2', '--output', 'out']))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = sorted(
        line.rstrip("\n")
        for f in os.listdir(tmp_path / "out")
        if f.startswith("part-")
        for line in open(tmp_path / "out" / f)
    )
    assert got == _max_per_key(lines)
