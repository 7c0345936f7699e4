"""Smoke test of the benchmark itself: every workload in BENCHMARK.json on
a tiny schedule, untraced and traced, must pass its oracle and print every
declared metric with its declared unit.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (each run starts its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    code, res = _run(workload, trace)
    assert code == 0
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_same_seed_same_inputs(tmp_path):
    sys.path.insert(0, HERE)
    import inputs

    def digest(seed: int, sub: str) -> list[bytes]:
        log = inputs.ops_log(inputs.events_table(2_000))
        out = []
        for i, f in enumerate(inputs.split_files(log, 8, seed)):
            path = tmp_path / sub / f"{i}.parquet"
            inputs.write_parquet(f["table"], str(path), inputs.OPS_SCHEMA)
            out.append(path.read_bytes())
        return out

    assert digest(3, "a") == digest(3, "b")
    assert digest(3, "a") != digest(4, "c")


def test_files_never_split_a_cdc_batch():
    sys.path.insert(0, HERE)
    import inputs

    log = inputs.ops_log(inputs.events_table(2_000))
    files = inputs.split_files(log, 16, seed=5)
    assert sum(f["rows"] for f in files) == log.num_rows
    for a, b in zip(files, files[1:]):
        assert a["last_event"] + 1 == b["first_event"]
    for f in files:
        events = [(t - inputs.T_BASE_US) // 1000 for t in f["table"]["cdc$time_micros"].to_pylist()]
        own = [e for e in events if f["first_event"] <= e <= f["last_event"]]
        assert len(own) == f["rows"]
        assert len(events) - len(own) == f["dup_rows"]


def test_no_result_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([*BENCH["command"], "--workload", BENCH["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
