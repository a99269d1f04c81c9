"""BENCHMARK.json and the result line keep to the benchmark contract."""

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench import metrics
from perfbench.run import result

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_is_rendered_from_the_metric_table():
    assert _bench() == metrics.benchmark_json()


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert all(os.path.isdir(os.path.join(ROOT, p)) for p in b["paths"])
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [w["name"] for w in b["workloads"]]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT_RE.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(metrics.NAME_RE.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_result_line_schema():
    units = {n: u for n, u, *_ in metrics.END_TO_END}
    values = {n: 1.5 for n in units}
    line = json.loads(json.dumps(result(10, 0, values, units)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 10 and line["failed"] == 0
    assert set(line["metrics"]) == set(units)
    for name, m in line["metrics"].items():
        assert metrics.NAME_RE.match(name)
        assert set(m) == {"value", "unit"} and isinstance(m["value"], float)
    assert result(3, 1, values, units)["correct"] is False


def test_fails_without_the_package(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
