"""CDC replicator benchmark: catch-up throughput, change-visibility latency,
and a per-layer split of session / consumer / apply / replicator.

    python3 perfbench/run.py --workload catchup_ops --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed at exit; one worker process (``worker.py``)
runs the program and is measured from outside. The last line of stdout is
one JSON object: ``correct``, ``attempted`` and ``failed`` (change rows
offered in the timed phase, and those not committed by the end of the
run), and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (which also writes
``.perfbench/traces/<workload>-seed<n>.json`` with every span).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import inputs  # noqa: E402
from layers import pct  # noqa: E402

WORKLOADS = {
    # a backlog of events_as_cdc_ops, events_per_s x --seconds events, drained
    # in full in throttled batches; 30k events at 20 s drain in ~15 s on 4
    # cores, which keeps a traced run and its local[1] baseline within 180 s
    "catchup_ops": {"events_per_s": 1_500, "events_per_file": 200, "throttle_files": 30,
                    "warm_events": 1_000, "warm_files": 2},
    # open-loop tails: files_per_s drops of rate/files_per_s change rows
    "tail_user": {"rate": 200, "files_per_s": 20, "warm_s": 2.0},
}
WORKER_TIMEOUT_S = 140  # one run, baseline included, ends within 180 s
RUN_BUDGET_S = 165


def build_inputs(workload: str, seed: int, seconds: int, work: str) -> dict:
    """Write the run's inputs and return the worker config for them."""
    spec = WORKLOADS[workload]
    cfg = {"workload": workload, "work": work, "snapshot_reads": 5, "drain_s": 90.0}
    files_dir = f"{work}/src" if workload == "catchup_ops" else f"{work}/staging"
    if workload == "catchup_ops":
        n_events = spec["events_per_s"] * seconds
        events = inputs.events_table(n_events)
        log = inputs.ops_log(events)
        warm = inputs.split_files(
            log.filter(log["__event"].to_numpy() < spec["warm_events"]), spec["warm_files"], seed)
        for i, f in enumerate(warm):
            inputs.write_parquet(f["table"], f"{work}/warm/src/warm-{i:05d}.parquet",
                                 inputs.OPS_SCHEMA)
        files = inputs.split_files(log, n_events // spec["events_per_file"], seed)
        cfg.update(throttle_files=spec["throttle_files"], warm_files=len(warm))
        schema = inputs.OPS_SCHEMA
    else:
        per_file = spec["rate"] / spec["files_per_s"]
        n_warm = int(spec["warm_s"] * spec["files_per_s"])
        n_files = 1 + n_warm + seconds * spec["files_per_s"]
        n_rows = int(n_files * per_file)
        events = inputs.events_table().slice(0, n_rows)
        # the cuts depend only on the seed and the batch count, so the second
        # split cuts the retimed log exactly where the first cut the original
        first = inputs.split_files(inputs.user_log(events), n_files, seed)
        events = inputs.retime(events, first, 1.0 / spec["files_per_s"])
        files = inputs.split_files(inputs.user_log(events), n_files, seed)
        schema = inputs.USER_SCHEMA
        cfg.update(files_per_s=spec["files_per_s"], warm_files=1 + n_warm, drain_s=60.0)
    inputs.write_parquet(events, f"{work}/oracle/events.parquet", inputs.EVENTS_SCHEMA)
    cfg["events"] = f"{work}/oracle/events.parquet"
    names = []
    for i, f in enumerate(files):
        name = f"part-{i:05d}.parquet"
        inputs.write_parquet(f["table"], f"{files_dir}/{name}", schema)
        names.append({"name": name, **{k: f[k] for k in ("first_event", "last_event", "rows", "dup_rows")}})
    if workload == "catchup_ops":
        # the file source takes the oldest files first: mtimes in log order
        base = time.time() - len(names)
        for i, f in enumerate(names):
            os.utime(f"{files_dir}/{f['name']}", (base + i, base + i))
    cfg["files"] = names
    return cfg


class Tree:
    """A worker process group: peak RSS of the whole tree (Python driver,
    JVM, Python workers) sampled from /proc, and a kill that waits."""

    def __init__(self, proc: subprocess.Popen, sample: bool):
        self.proc, self.peak = proc, 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        if sample:
            threading.Thread(target=self._sample, daemon=True).start()

    def members(self) -> list[int]:
        out = []
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[2]) == self.proc.pid:  # process group id
                    out.append(int(pid))
        return out

    def _sample(self) -> None:
        while not self._stop.wait(0.2):
            rss = 0
            for pid in self.members():
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        rss += int(fh.read().split()[1]) * self._page
                except OSError:
                    pass
            self.peak = max(self.peak, rss)

    def kill(self) -> None:
        self._stop.set()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                pass
            end = time.time() + 10
            while time.time() < end and self.members():
                time.sleep(0.1)
            if not self.members():
                break
        self.proc.wait()


def run_worker(cfg: dict, work: str, cpus: int, timeout: float) -> tuple[dict | None, int]:
    """Run one worker to completion; returns (result, peak RSS bytes)."""
    path = f"{work}/config-{cpus}.json"
    cfg = dict(cfg, result=f"{work}/result-{cpus}.json", t_spawn=time.time())
    json.dump(cfg, open(path, "w"))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of Spark, the JVMs and Python stays under `work`
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=f"{work}/spark-local", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    proc = subprocess.Popen([sys.executable, f"{HERE}/worker.py", path], cwd=work,
                            env=env, stdout=sys.stderr, start_new_session=True)
    tree = Tree(proc, sample=cfg["trace"])
    RUNNING.append(tree)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"worker timed out after {timeout:.0f} s", file=sys.stderr)
    finally:
        tree.kill()
        RUNNING.remove(tree)
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        return None, tree.peak
    return json.load(open(cfg["result"])), tree.peak


RUNNING: list[Tree] = []


def end_to_end(res: dict) -> dict:
    vis = res["visibility"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "catchup_events_per_s": (res["events_per_s"], "1/s"),
        "visibility_p50_s": (pct(vis, 0.5), "s"),
        "visibility_p95_s": (pct(vis, 0.95), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(f"{ROOT}/scylla_cdc_java_spark/streaming/replicator.py"):
        print(f"program package not found under {ROOT}", file=sys.stderr)
        return 2

    work = f"{ROOT}/.perfbench/run-{os.getpid()}-{time.time_ns()}"
    os.makedirs(work)

    def cleanup(*_):
        for tree in list(RUNNING):
            tree.kill()
        shutil.rmtree(work, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *a: (cleanup(), sys.exit(143)))
    try:
        cfg = build_inputs(args.workload, args.seed, args.seconds, work)
        cfg["trace"] = bool(args.trace)
        cfg["trace_path"] = f"{ROOT}/.perfbench/traces/{args.workload}-seed{args.seed}.json"
        t0 = time.time()
        res, peak = run_worker(cfg, work, len(os.sched_getaffinity(0)), WORKER_TIMEOUT_S)
        if res is None:
            print("worker failed; no result", file=sys.stderr)
            return 1
        offered = res["offered_rows"]
        failed = offered - res["committed_rows"]
        if res["mismatch"]:
            print(f"state differs from oracle: {res['mismatch']}", file=sys.stderr)
            failed = offered
        metrics = end_to_end(res)
        if args.trace:
            e2e = metrics
            metrics = {k: (v["value"], v["unit"]) for k, v in res["layers"].items()}
            metrics["replicator.snapshot_read_s"] = (res["snapshot_read_s"], "s")
            metrics["process.peak_rss_mb"] = (peak / 2**20, "MB")
            for k in ("setup_s", "catchup_events_per_s", "visibility_p50_s"):
                metrics[f"traced.{k}"] = e2e[k]
            metrics["traced.failed_share"] = (failed / max(offered, 1), "ratio")
            # the single-thread baseline: the same backlog drained at local[1];
            # it is run for catch-up only, and reads 0 on the tails
            local1 = 0.0
            if args.workload == "catchup_ops":
                base_cfg = build_inputs("catchup_ops", args.seed, args.seconds,
                                        f"{work}/baseline")
                base_cfg["trace"] = False
                left = RUN_BUDGET_S - (time.time() - t0)
                base, _ = run_worker(base_cfg, f"{work}/baseline", 1, left)
                if base is None or base["mismatch"]:
                    print("local[1] baseline failed", file=sys.stderr)
                    return 1
                local1 = base["events_per_s"]
            metrics["baseline.local1_catchup_events_per_s"] = (local1, "1/s")
        print(json.dumps({
            "correct": not res["mismatch"],
            "attempted": max(offered, 1),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if not res["mismatch"] else 1
    finally:
        cleanup()


if __name__ == "__main__":
    sys.exit(main())
