"""A run works from any working directory and writes nothing there.

Arrow-kernel queries run the package inside Python workers; unless the
benchmark exports the repo root on PYTHONPATH, workers started outside the
repo fail with ModuleNotFoundError.  The CLI verbs open a catalog that
defaults to one under the working directory.
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import WARM_PASSES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("workload,job", [("curation", "text_bpe_tokenize_8k"),
                                          ("verbs", "verb.mr")])
def test_job_from_a_temp_directory(tmp_path, workload, job):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "0", "--jobs", job],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    # the cold pass, the untimed warm passes and one timed pass
    assert (line["correct"], line["failed"], line["attempted"]) == (True, 0, 2 + WARM_PASSES)
    assert not os.listdir(tmp_path)  # every write stays inside the checkout
