"""Bench-harness regression guard.

The round-2 driver bench died silently (parsed: null) and the breakage
went unnoticed until round 3. This smoke test runs the real bench.py as
a subprocess — same entry point, env, and session bootstrap the driver
uses — over a tiny query subset at sf0.001 and asserts the one-line JSON
summary parses with the contract fields present.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_QUERIES = ["s1_window_scan", "text_token_count", "agg_lineitem_pushdown"]
RUNS_PATH = os.path.join(REPO, "plans", "bench_runs.json")


def test_bench_emits_parseable_summary_line():
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_QUERIES=",".join(SMOKE_QUERIES),
    )
    if os.path.exists(RUNS_PATH):
        os.remove(RUNS_PATH)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"bench.py crashed:\n{proc.stderr[-2000:]}"
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ]
    assert json_lines, f"no JSON summary line in bench output:\n{proc.stdout[-2000:]}"
    doc = json.loads(json_lines[-1])
    assert doc["metric"] == "headline_queries_total_wall"
    assert doc["unit"] == "sec"
    assert set(doc["queries"]) == set(SMOKE_QUERIES)
    assert all(v > 0 for v in doc["queries"].values())
    assert doc["value"] > 0
    # the summary is the last output line and the per-run detail goes to
    # a file: a reader that keeps only a bounded tail of the output must
    # find the whole summary there
    assert proc.stdout.splitlines()[-1] == json_lines[-1]
    assert '{"runs"' not in proc.stdout + proc.stderr
    with open(RUNS_PATH) as fh:
        runs = json.load(fh)["runs"]
    assert set(runs) == set(SMOKE_QUERIES)
    assert all(len(r) == doc["runs_per_query"] for r in runs.values())
