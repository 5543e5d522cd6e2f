"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q

Each workload runs once at the tiny size untraced, and must print every
end-to-end metric of BENCHMARK.json with its unit and pass its output
checks; and once traced with one expected result corrupted, and must
print every per-layer metric, count the corrupted check as a failed op
and exit nonzero.  A tiny run takes about a minute.
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
sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


WORKLOADS = [w["name"] for w in _spec()["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    p = _run(ROOT, "--workload", workload, "--trace", "0", "--size", "tiny")
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    r = _result(p)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_layer_and_flags_a_corrupted_result(workload):
    p = _run(ROOT, "--workload", workload, "--trace", "1", "--size", "tiny", "--corrupt")
    assert p.returncode != 0
    r = _result(p)
    assert r["correct"] is False and r["failed"] >= 1
    assert any(line.startswith("# FAILED") for line in p.stdout.splitlines())
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == spec


def test_without_engine_source_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--trace", "0")
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_spec_lists_exactly_the_layer_units():
    assert {m["name"]: m["unit"] for m in _spec()["per_layer"]} == H.LAYER_UNITS


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))
    value, pct = H.tail(xs)
    assert pct == 90 and sum(x > value for x in xs) == 10
    assert H.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_union_len_and_driver_gap():
    assert H.union_len([(0, 2), (1, 3), (5, 6)]) == 4
    sp = H.Span(0, None, "op", 10.0, 20.0)
    jobs = [H.Job(1, None, 11.0, 14.0), H.Job(2, None, 13.0, 15.0), H.Job(3, None, 19.0, 25.0)]
    assert H.driver_gap(sp, jobs) == pytest.approx(10 - 4 - 1)
