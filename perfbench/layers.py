"""Per-layer numbers, measured from outside the program.

* ``session``: the ``get_spark`` span.
* ``consumer``: the ``StreamingQuery`` progress of each micro-batch.
* ``replicator``: the sink-call spans, the SQL executions Spark's status
  store records inside each call, and the manifest versions on disk.
* ``apply``: plan-node metrics of the write execution of each call.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
# plan node -> metric name -> summary key
_WANTED = {
    "Scan ExistingRDD": {"number of output rows": "batch_rows"},
    "Scan parquet": {"number of output rows": "state_rows_read",
                     "size of files read": "state_bytes_read"},
    "Exchange": {"shuffle records written": "shuffle_records",
                 "shuffle bytes written": "shuffle_bytes"},
    "Execute InsertIntoHadoopFsRelationCommand": {
        "number of written files": "files_written",
        "written output": "bytes_written",
        "number of output rows": "rows_written"},
    "Python": {"time to run Python workers": "python_run_ms",
               "time to start Python workers": "python_start_ms",
               "data sent to Python workers": "python_bytes"},
}


class Spans:
    """In-memory spans: name, start, end, parent span id, batch id."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, start, end, parent=None, batch=None) -> int:
        self.items.append({"id": len(self.items), "name": name, "start": start,
                           "end": end, "parent": parent, "batch": batch})
        return len(self.items) - 1

    @contextmanager
    def span(self, name):
        rec = {"start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["id"] = self.add(name, rec["start"], rec["end"])


def pct(values, q: float) -> float:
    """Nearest-rank percentile (0.0 for no values)."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def metric_value(text: str) -> float:
    """Spark's formatted metric ('5,418', '1.6 MiB', 'total (...)\\n8.0 s (...)')."""
    head = text.split("\n")[-1].split(" (")[0].split()
    return float(head[0].replace(",", "")) * (_SCALE.get(head[1], 1) if len(head) > 1 else 1)


def _node_kind(name: str) -> str | None:
    if "InPandas" in name or "Python" in name:
        return "Python"
    if name.startswith("Scan parquet"):
        return "Scan parquet"
    return name if name in _WANTED else None


def executions(spark) -> list[dict]:
    """Every SQL execution in the status store with its plan-node sums."""
    ss = spark._jsparkSession.sharedState().statusStore()
    lst = ss.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        eid, done = e.executionId(), e.completionTime()
        ex = {"id": eid, "root": e.rootExecutionId(),
              "start": e.submissionTime() / 1e3,
              "end": done.get().getTime() / 1e3 if done.isDefined() else None,
              "jobs": e.jobs().size(), "python": False, "write": False}
        if ex["root"] != eid:  # nested executions are the sink's own actions
            vals = ss.executionMetrics(eid)
            nodes = ss.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                nd = nodes.apply(j)
                kind = _node_kind(nd.name())
                if kind is None:
                    continue
                ex["python"] |= kind == "Python"
                ex["write"] |= kind.startswith("Execute Insert")
                wanted = _WANTED[kind]
                for name, acc, _ in _METRIC.findall(nd.metrics().toString()):
                    if name in wanted:
                        v = vals.get(int(acc))
                        if v.isDefined():
                            key = wanted[name]
                            ex[key] = ex.get(key, 0.0) + metric_value(v.get())
        out.append(ex)
    return out


def _progress_time(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _manifests(state_dir: str) -> list[tuple[float, dict]]:
    out = []
    for name in os.listdir(state_dir):
        if name.startswith("manifest-") and name.endswith(".json"):
            path = os.path.join(state_dir, name)
            out.append((os.path.getmtime(path), json.load(open(path))))
    return sorted(out, key=lambda m: m[1]["version"])


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            n += name.endswith(".parquet")
    return n, size


def collect(spark, out: dict, spans: Spans, cfg: dict) -> dict:
    t_start, files = out["t_start"], out["files"]
    progress = {p["batchId"]: p for p in out["progress"]}
    calls = [c for c in out["calls"] if c["start"] >= t_start]
    execs = executions(spark)
    started = next(s["id"] for s in spans.items if s["name"] == "consumer.start")

    call_execs = []
    for c in out["calls"]:
        mine = [e for e in execs if e["root"] != e["id"] and e["end"] is not None
                and c["start"] - 0.005 <= e["start"] <= c["end"] + 0.005]
        call_execs.append((c, mine))
    # rows handed to the sink = rows the call's first action scanned
    handed = lambda m: m[0].get("batch_rows", 0.0) if m else 0.0  # noqa: E731
    committed = [f for f in files if "committed_at" in f]
    redelivered = sum(f["dup_rows"] for f in committed)
    leaked = sum(handed(m) for _, m in call_execs) - sum(f["rows"] for f in committed)
    call_rows, per_call = [], []
    for c, mine in call_execs:
        if c["start"] < t_start:
            continue
        cid = spans.add("replicator.call", c["start"], c["end"], started, c["batch"])
        for e in mine:
            spans.add("sql.execution", e["start"], e["end"], cid, c["batch"])
        if handed(mine) > 0:
            call_rows.append(handed(mine))
            per_call.append((c, mine))

    def total(key, execs_of=lambda m: m):
        return sum(e.get(key, 0.0) for _, m in per_call for e in execs_of(m))

    writes = lambda m: [e for e in m if e["write"]]  # noqa: E731
    rows_in = sum(call_rows) or 1
    apply_rows = lambda e: e.get("batch_rows", 0) + e.get("state_rows_read", 0)  # noqa: E731

    state_dir = os.path.join(cfg["work"], "state")
    mans = [(0.0, {"buckets": {}})] + _manifests(state_dir)
    rewrites = []
    for (_, prev), (mtime, cur) in zip(mans, mans[1:]):
        if mtime >= t_start:
            a, b = prev["buckets"], cur["buckets"]
            rewrites.append(sum(a.get(k) != b.get(k) for k in set(a) | set(b)))
    live = mans[-1][1]["buckets"].values()
    snap_files = sum(_dir_size(os.path.join(state_dir, rel))[0] for rel in live)

    timed_p = [progress[c["batch"]] for c in calls if c["batch"] in progress]
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    ops = [(p.get("stateOperators") or [{}])[0] for p in timed_p]
    upd = sum(o.get("allUpdatesTimeMs", 0) for o in ops)
    com = sum(o.get("commitTimeMs", 0) for o in ops)
    trig = sum(dur(p, "triggerExecution") for p in timed_p) or 1
    backlog = []
    for p in timed_p:
        ts = _progress_time(p)
        backlog.append(sum(1 for f in files if f.get("dropped_at", f["due"]) <= ts
                           and f.get("batch", math.inf) >= p["batchId"]))
    call_ms = [1e3 * (c["end"] - c["start"]) for c, _ in per_call]
    driver_ms = [1e3 * (c["end"] - c["start"] - sum(e["end"] - e["start"] for e in m))
                 for c, m in per_call]
    n_buckets = out["n_buckets"]

    m = {
        "session.get_spark_s": (out["get_spark_s"], "s"),
        "consumer.batches": (len(timed_p), "count"),
        "consumer.empty_batches": (sum(p["numInputRows"] == 0 for p in timed_p), "count"),
        "consumer.offsets_ms.p50": (pct([dur(p, "latestOffset", "getBatch") for p in timed_p], 0.5), "ms"),
        "consumer.planning_ms.p50": (pct([dur(p, "queryPlanning") for p in timed_p], 0.5), "ms"),
        "consumer.log_commit_ms.p50": (pct([dur(p, "walCommit", "commitOffsets") for p in timed_p], 0.5), "ms"),
        "consumer.backlog_files.max": (max(backlog, default=0), "count"),
        "consumer.dedup_update_ms": (upd, "ms"),
        "consumer.dedup_commit_ms": (com, "ms"),
        "consumer.dedup_share": ((upd + com) / trig, "ratio"),
        "consumer.dedup_state_rows.max": (max((o.get("numRowsTotal", 0) for o in ops), default=0), "count"),
        "consumer.dedup_state_bytes.max": (max((o.get("memoryUsedBytes", 0) for o in ops), default=0), "bytes"),
        "consumer.dedup_recall": (1 - leaked / redelivered if redelivered else 1.0, "ratio"),
        "replicator.calls": (len(per_call), "count"),
        "replicator.call_ms.p50": (pct(call_ms, 0.5), "ms"),
        "replicator.call_ms.p95": (pct(call_ms, 0.95), "ms"),
        "replicator.executions_per_call": (statistics.fmean([len(m) for _, m in per_call] or [0]), "count"),
        "replicator.jobs_per_call": (statistics.fmean([sum(e["jobs"] for e in m) for _, m in per_call] or [0]), "count"),
        "replicator.driver_ms.p50": (pct(driver_ms, 0.5), "ms"),
        "replicator.batch_passes": (total("batch_rows") / rows_in, "ratio"),
        "replicator.buckets_rewritten.p50": (pct(rewrites, 0.5), "count"),
        "replicator.bucket_rewrite_share": (statistics.fmean(rewrites or [0]) / n_buckets, "ratio"),
        "replicator.write_amplification": (total("rows_written", writes) / rows_in, "ratio"),
        "replicator.files_written": (total("files_written", writes), "count"),
        "replicator.bytes_written": (total("bytes_written", writes), "bytes"),
        "replicator.state_bytes_read": (total("state_bytes_read", writes), "bytes"),
        "replicator.snapshot_files": (snap_files, "count"),
        "replicator.disk_bytes": (_dir_size(state_dir)[1], "bytes"),
        "apply.fold_rows_in": (sum(apply_rows(e) for _, mm in per_call for e in writes(mm) if e["python"]), "count"),
        "apply.native_rows_in": (sum(apply_rows(e) for _, mm in per_call for e in writes(mm) if not e["python"]), "count"),
        "apply.python_run_ms": (total("python_run_ms", writes), "ms"),
        "apply.python_bytes": (total("python_bytes", writes), "bytes"),
        "apply.shuffle_records": (total("shuffle_records", writes), "count"),
        "apply.shuffle_bytes": (total("shuffle_bytes", writes), "bytes"),
        "apply.python_start_ms": (sum(e.get("python_start_ms", 0.0) for e in execs), "ms"),
        "generator.late_ms.max": (out.get("late_ms_max", 0.0), "ms"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def write_artifact(path: str, spans: Spans, metrics: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"metrics": metrics, "spans": spans.items}, fh, indent=1)
