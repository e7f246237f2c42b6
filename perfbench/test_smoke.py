"""Self-test of the benchmark harness on tiny inputs (about two minutes).

    python -m pytest perfbench/test_smoke.py -q

Runs each workload once at ``--scale tiny`` through ``run.py`` and checks
the result line; also checks that the harness refuses to run, with no
result line, when the program is not next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


def _run(cwd, *args, timeout=300):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload,trace", [("frontier_default", 0),
                                            ("small_rounds", 1)])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(res["metrics"]) == _names(kind)
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_without_the_program():
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "--workload", "frontier_default", "--seed", "1",
                 "--seconds", "1", "--trace", "0", timeout=60)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
