"""A tiny configuration of every workload runs end to end with no failed
operation, in both the untraced and the traced mode."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))

TINY = """
import dataclasses, sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
w = {workload!r}
workloads.WORKLOADS[w] = dataclasses.replace(
    workloads.WORKLOADS[w], build_pages=150, wave_pages=40)
sys.exit(run.main(["--workload", w, "--seed", "7", "--seconds", "1",
                   "--trace", {trace!r}]))
"""


def _run(workload: str, trace: str) -> dict:
    code = TINY.format(root=ROOT, workload=workload, trace=trace)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_workload_untraced(workload):
    out = _run(workload, "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 1000
    m = out["metrics"]
    assert all(v["value"] > 0 for v in m.values()), m


def test_tiny_traced_run_prints_every_layer_metric():
    from perfbench import layers

    out = _run("ingest_while_serving", "1")
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == list(layers.per_layer())
    assert out["metrics"]["entry.suite_s"]["value"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(ROOT, "perfbench", name), "rb").read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "serve_bm25", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0 and not p.stdout.strip()
