"""Self-tests: every workload at toy size through the benchmark command.

    python3 -m pytest perfbench/test_perfbench.py -q

Besides the output contract, they pin the mechanism each workload was
chosen for: PassJoin precision is poor on hot hosts and fair on chains,
and the resolve workloads never touch the automata layer.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY = {"er_hot_hosts": 0.0625, "er_chains": 0.25, "fuzzy_index": 0.05}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, scale: float | None = None):
    cmd = [*_spec()["command"], "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace)]
    if scale is not None:
        cmd += ["--scale", str(scale)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


@pytest.fixture(scope="module")
def results() -> dict:
    out = {}
    for workload, scale in TOY.items():
        for trace in (0, 1):
            p = _run(workload, trace, scale=scale)
            assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
            out[workload, trace] = json.loads(p.stdout.strip().splitlines()[-1])
    return out


@pytest.mark.parametrize("workload", list(TOY))
@pytest.mark.parametrize("trace", [0, 1])
def test_contract(results, workload, trace):
    res = results[workload, trace]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        n: v["unit"] for n, v in res["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_passjoin_precision_separates_the_resolve_workloads(results):
    hot = results["er_hot_hosts", 1]["metrics"]["passjoin.precision"]["value"]
    chains = results["er_chains", 1]["metrics"]["passjoin.precision"]["value"]
    assert hot < 0.05 < 0.20 < chains


@pytest.mark.parametrize("workload", ["er_hot_hosts", "er_chains"])
def test_resolve_workloads_bypass_automata(results, workload):
    m = results[workload, 1]["metrics"]
    assert m["automata.dfa_compile_ms"]["value"] == 0
    assert m["automata.dfa_states"]["value"] == 0


def test_fuzzy_workload_bypasses_er(results):
    m = results["fuzzy_index", 1]["metrics"]
    assert m["blocking.candidate_s"]["value"] == 0
    assert m["automata.dfa_states"]["value"] > 0


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in _spec()["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("er_hot_hosts", 0, cwd=bare)
    shutil.rmtree(bare)
    assert p.returncode != 0
    assert not p.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
