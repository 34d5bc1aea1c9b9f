"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload in both modes and checks that the last output line is
the result object with every metric BENCHMARK.json names, in its unit.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    """Run the command with its output in files, not pipes, so that it
    returns when the benchmark's own process exits, not when the last
    process holding its output does."""
    with tempfile.TemporaryFile("w+") as out, \
            tempfile.TemporaryFile("w+") as err:
        p = subprocess.run([*SPEC["command"], *args], cwd=cwd, stdout=out,
                           stderr=err, text=True, timeout=600)
        out.seek(0)
        err.seek(0)
        p.stdout, p.stderr = out.read(), err.read()
    return p


def _survivors() -> list[str]:
    """Processes still alive whose command line or environment names the
    benchmark's work directory: the JVM (java.io.tmpdir) and the Python
    workers (TMPDIR) of a run."""
    mark = os.path.join(HERE, ".work").encode()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if mark in cmd or mark in env:
            found.append(f"{pid}: {cmd[:120]!r}")
    return found


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["descriptor_scan", "pit_features",
                                      "near_dedup"])
def test_every_metric_emitted_with_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    left = _survivors()
    assert not left, f"processes outlived the run: {left}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, p.stdout
    assert res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


def test_inputs_are_a_function_of_the_seed():
    import gen

    out = os.path.join(HERE, ".work", "test-gen")
    a = gen.sequences(7, 300, os.path.join(out, "a"))
    b = gen.sequences(7, 300, os.path.join(out, "b"))
    c = gen.sequences(8, 300, os.path.join(out, "c"))
    d1, p1 = gen.corpus(7, 200, os.path.join(out, "d"))
    d2, p2 = gen.corpus(7, 200, os.path.join(out, "e"))
    shutil.rmtree(out)
    assert a == b != c
    assert (d1, p1) == (d2, p2) and len(p1) == 10


def test_refuses_to_run_without_the_package():
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(bare, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
             "--seconds", str(SPEC["run_seconds"]), "--trace", "0")
    shutil.rmtree(bare)
    assert p.returncode != 0
    assert "metrics" not in p.stdout
