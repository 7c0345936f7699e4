"""Steadiness check: run one workload over several seeds and print, per
metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/repeat.py --workload tail_user --seeds 1-10 [--trace 1]

Each run's result line is appended to ``.perfbench/repeat-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open(f"{ROOT}/BENCHMARK.json"))
    lo, hi = (int(x) for x in args.seeds.split("-"))
    log = f"{ROOT}/.perfbench/repeat-{args.workload}-trace{args.trace}.jsonl"
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        with open(log, "a") as fh:
            fh.write(line + "\n")
        res = json.loads(line)
        print(f"seed {seed}: exit {proc.returncode} correct={res.get('correct')} "
              f"attempted={res.get('attempted')} failed={res.get('failed')}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:45s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds.get(k)}")
    untraced = log.replace("-trace1.", "-trace0.")
    if args.trace and os.path.exists(untraced):
        # tracing overhead: traced median minus untraced median (all runs logged)
        base: dict[str, list[float]] = {}
        for line in open(untraced):
            for k, v in json.loads(line).get("metrics", {}).items():
                base.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            name = k[len("traced."):]
            if k.startswith("traced.") and name in base:
                diff = statistics.median(vs) - statistics.median(base[name])
                print(f"tracing overhead {name:30s} {diff:+.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
