"""The light worker module: the zip guard's semantics, which workers
install it, and what importing the module loads."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from yet_another_map_reduce_spark import worker
from yet_another_map_reduce_spark.operators.mapreduce import run_inprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zg_alpha``, imported, with the
    guard installed as a Spark worker would; yields the archive path and
    a list that records each ``_read_directory`` call's archive."""
    from pyspark.core.files import SparkFiles

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_alpha": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("zg_alpha")
    # undone at teardown: the stdlib method comes back
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    worker.install_zip_guard()
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield archive, reads
    for name in ("zg_alpha", "zg_beta"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is a no-op on 3.13+")
def test_zip_guard_does_not_reread_an_unchanged_archive(guarded_zip):
    archive, reads = guarded_zip
    assert zipimport.zipimporter.invalidate_caches is worker._invalidate_if_changed
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    # the counter sees the stdlib method's read
    worker._STOCK_INVALIDATE(sys.path_importer_cache[archive])
    assert reads.count(archive) == 1


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is a no-op on 3.13+")
def test_zip_guard_rereads_an_archive_rewritten_in_place(guarded_zip):
    archive, reads = guarded_zip
    _write_zip(archive, {"zg_alpha": "X = 1\n", "zg_beta": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zg_beta").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_driver_keeps_the_stdlib_invalidate_caches():
    import yet_another_map_reduce_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is worker._STOCK_INVALIDATE
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_run_inprocess_workers_hold_the_zip_guard(spark, tmp_path):
    """Every worker that runs a map or a reduce task of ``run_inprocess``
    has the guard installed, where there is a zip to guard."""
    src = tmp_path / "lines.txt"
    src.write_text("".join(f"k{i},{i}\n" for i in range(200)))

    def report(stage):
        import os
        import sys
        import zipimport

        guarded = zipimport.zipimporter.invalidate_caches.__module__ == (
            "yet_another_map_reduce_spark.worker"
        )
        has_zip = sys.version_info < (3, 13) and any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return f"{stage}:{os.getpid()}:{guarded}:{has_zip}"

    def mapper(line):
        yield f"{line.split(',', 1)[0]}|{report('map')},x"

    def reducer(key, values):
        list(values)
        yield key.split("|", 1)[1]
        yield report("reduce")

    rows = {r.value for r in run_inprocess(spark, str(src), mapper, reducer, 4).collect()}
    reports = [r.split(":") for r in rows]
    assert {stage for stage, *_ in reports} == {"map", "reduce"}
    expect = [(pid, guarded) for _, pid, guarded, has_zip in reports if has_zip == "True"]
    if not expect:
        pytest.skip("the workers import pyspark from site-packages: no zip to guard")
    assert all(guarded == "True" for _, guarded in expect), reports


def test_worker_module_imports_only_the_stdlib():
    """Importing the worker module (and so the package ``__init__``) in a
    fresh interpreter loads neither the operator library, pandas, numpy
    nor pyspark."""
    code = (
        f"import json, sys; sys.path.insert(0, {REPO!r})\n"
        "import yet_another_map_reduce_spark.worker\n"
        "heavy = ('yet_another_map_reduce_spark.operators', 'pandas', 'numpy', 'pyspark')\n"
        "print(json.dumps([m for m in heavy if m in sys.modules]))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout) == []
