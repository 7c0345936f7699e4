"""One measured process: set up the program, run one workload, check it.

Started by ``run.py`` as ``python3 worker.py <config.json>``; writes its
result to ``config["result"]``. The setup clock starts at the spawn time the
parent passes in ``config["t_spawn"]``.

The program is driven only through its public entry points with its
defaults: ``session.get_spark()``, ``CDCStreamConsumer`` (30 s confidence
window, dedup on, default trigger; ``with_throttle`` for catch-up) and
``ReplicatorSink`` (``n_buckets=64``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

CFG = json.load(open(sys.argv[1]))
T_SPAWN = CFG["t_spawn"]

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
from pyspark.sql.pandas.types import from_arrow_schema  # noqa: E402

from scylla_cdc_java_spark.session import get_spark  # noqa: E402
from scylla_cdc_java_spark.sources.events_cdc import KV_STATE_DESC, USER_STATE_DESC  # noqa: E402
from scylla_cdc_java_spark.streaming.consumer import CDCStreamConsumer  # noqa: E402
from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink  # noqa: E402


def main() -> None:
    spans = layers.Spans()
    with spans.span("session.get_spark") as sp:
        spark = get_spark()
    wl = CFG["workload"]
    run = {"catchup_ops": run_catchup, "tail_user": run_tail}[wl]
    out = run(spark, spans)
    out["get_spark_s"] = sp["end"] - sp["start"]
    out["n_buckets"] = out["sink"].n_buckets

    with spans.span("replicator.snapshot_read") as sp:
        reads = []  # one read for the check; traced runs time several
        while not reads or CFG["trace"] and (
                len(reads) < CFG["snapshot_reads"] or time.time() - sp["start"] < 2.0):
            t0 = time.perf_counter()
            state = out["sink"].current_state(spark).toPandas()
            reads.append(time.perf_counter() - t0)
    out["snapshot_read_s"] = statistics.median(reads)
    out["mismatch"] = check.compare(wl, CFG, state, out["cutoff_event"])
    if CFG["trace"]:
        out["layers"] = layers.collect(spark, out, spans, CFG)
        layers.write_artifact(CFG["trace_path"], spans, out["layers"])
    for k in ("sink", "calls"):
        out.pop(k, None)
    json.dump(out, open(CFG["result"], "w"))
    spark.stop()


class Recorder:
    """The sink callable wrapper: times each call and reads the source
    offset the call's micro-batch ends at from the checkpoint."""

    def __init__(self, sink, ckpt: str):
        self.sink, self.ckpt = sink, ckpt
        self.calls: list[dict] = []
        self.first = threading.Event()
        self.lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        start = time.time()
        self.sink(batch_df, batch_id)
        end = time.time()
        with self.lock:
            self.calls.append(
                {"batch": batch_id, "start": start, "end": end,
                 "log_offset": _log_offset(self.ckpt, batch_id)}
            )
        self.first.set()

    def snapshot(self) -> list[dict]:
        with self.lock:
            return list(self.calls)


def _log_offset(ckpt: str, batch_id: int) -> int:
    with open(os.path.join(ckpt, "offsets", str(batch_id))) as fh:
        lines = fh.read().splitlines()
    return int(json.loads(lines[2])["logOffset"])


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> file-source ``batchId``, from the source's metadata log
    (``N`` and compacted ``N.compact`` entries alike)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_commits(files: list[dict], calls: list[dict], ckpt: str) -> None:
    """Set ``batch`` and ``committed_at`` on each file that a returned sink
    call committed. A file the source took that is not ours is a harness
    error."""
    by_name = {f["name"]: f for f in files}
    slog = source_log(ckpt)
    ends = sorted((c["log_offset"], c["batch"], c["end"]) for c in calls)
    for name, src_batch in slog.items():
        if name not in by_name:
            raise RuntimeError(f"harness: source took unknown file {name}")
        hit = next(((b, e) for off, b, e in ends if off >= src_batch), None)
        if hit is None:
            continue  # taken by a micro-batch whose call never returned
        by_name[name]["batch"], by_name[name]["committed_at"] = hit


def cutoff(files: list[dict]) -> int:
    """Last event of the committed prefix; committed files must form one."""
    last = -1
    for f in files:
        if "committed_at" not in f:
            break
        last = f["last_event"]
    if any("committed_at" in f for f in files if f["first_event"] > last):
        raise RuntimeError("harness: committed files are not a prefix of the log")
    return last


def _consumer(spark, src, schema, ckpt):
    return CDCStreamConsumer(spark).with_source(src, schema).with_checkpoint(ckpt)


def _wait(cond, query) -> None:
    """Block until ``cond()``; a stream that died raises its error."""
    while not cond():
        if not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        time.sleep(0.1)


def _poll_progress(query, store: dict) -> None:
    for p in query.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else dict(p)
        store[p["batchId"]] = p


def _all_committed(files: list[dict], calls: list[dict], ckpt: str) -> bool:
    slog = source_log(ckpt)
    return bool(calls) and len(slog) == len(files) and (
        max(c["log_offset"] for c in calls) >= max(slog.values()))


def run_catchup(spark, spans) -> dict:
    """Warm up on a throwaway stream, then drain the whole pre-written
    backlog from empty state with the catch-up throttle."""
    schema = from_arrow_schema(inputs.OPS_SCHEMA)
    w = CFG["work"]

    warm = Recorder(ReplicatorSink(KV_STATE_DESC, f"{w}/warm/state"), f"{w}/warm/ckpt")
    q = (_consumer(spark, f"{w}/warm/src", schema, f"{w}/warm/ckpt")
         .with_throttle(1).start(warm))
    _wait(warm.first.is_set, q)
    t_setup = warm.calls[0]["end"] - T_SPAWN
    _wait(lambda: len(warm.snapshot()) >= CFG["warm_files"], q)
    q.stop()
    q.awaitTermination(60)

    files = CFG["files"]
    sink = ReplicatorSink(KV_STATE_DESC, f"{w}/state")
    rec = Recorder(sink, f"{w}/ckpt")
    progress: dict = {}
    with spans.span("consumer.start") as sp:
        q = (_consumer(spark, f"{w}/src", schema, f"{w}/ckpt")
             .with_throttle(CFG["throttle_files"]).start(rec))
    t_start = sp["start"]
    give_up = t_start + CFG["drain_s"]
    _wait(lambda: time.time() > give_up
          or _all_committed(files, rec.snapshot(), f"{w}/ckpt"), q)
    q.stop()
    t_stop = time.time()
    q.awaitTermination(60)
    if CFG["trace"]:
        _poll_progress(q, progress)
    calls = rec.snapshot()
    file_commits(files, calls, f"{w}/ckpt")
    for f in files:
        f["due"] = t_start
    return _result(files, calls, t_start, t_stop, t_setup, sink, progress, files)


def run_tail(spark, spans) -> dict:
    """Open-loop tail: files are dropped on a fixed clock whatever the
    stream does. The first warm-up file is in place before the stream
    starts; its commit ends set-up. Warm-up drops continue for
    ``warm_s``, then the timed drops run for the run's seconds."""
    schema = from_arrow_schema(inputs.USER_SCHEMA)
    w = CFG["work"]
    sink = ReplicatorSink(USER_STATE_DESC, f"{w}/state")
    files = CFG["files"]
    dropper = Dropper(f"{w}/staging", f"{w}/src")
    dropper.drop(files[0], time.time())
    rec = Recorder(sink, f"{w}/ckpt")
    progress: dict = {}
    with spans.span("consumer.start"):
        q = _consumer(spark, f"{w}/src", schema, f"{w}/ckpt").start(rec)
    _wait(rec.first.is_set, q)
    t_first = rec.calls[0]["end"]
    t_setup = t_first - T_SPAWN
    interval = 1.0 / CFG["files_per_s"]
    n_warm = CFG["warm_files"]
    t_timed = t_first + n_warm * interval
    for i, f in enumerate(files[1:], start=1):
        f["due"] = t_first + i * interval
    thread = threading.Thread(target=dropper.run, args=(files[1:],), daemon=True)
    thread.start()
    last_due = files[-1]["due"]
    polled = [time.time()]

    def done() -> bool:
        now = time.time()
        if CFG["trace"] and now - polled[0] > 5:
            polled[0] = now
            _poll_progress(q, progress)  # keeps batches beyond the last 100
        return now > last_due + CFG["drain_s"] or (
            now > last_due and _all_committed(files, rec.snapshot(), f"{w}/ckpt"))

    _wait(done, q)
    thread.join()
    q.stop()
    t_stop = time.time()
    q.awaitTermination(60)
    if CFG["trace"]:
        _poll_progress(q, progress)
    calls = rec.snapshot()
    file_commits(files, calls, f"{w}/ckpt")
    timed = files[n_warm:]
    out = _result(files, calls, t_timed, t_stop, t_setup, sink, progress, timed)
    out["late_ms_max"] = 1000.0 * max(f["dropped_at"] - f["due"] for f in files[1:])
    return out


class Dropper:
    """Moves pre-written files from staging into the source directory at
    their due time (``os.replace``, then mtime = drop time)."""

    def __init__(self, staging: str, src: str):
        self.staging, self.src = staging, src
        os.makedirs(src, exist_ok=True)

    def drop(self, f: dict, due: float) -> None:
        f.setdefault("due", due)
        dst = os.path.join(self.src, f["name"])
        os.replace(os.path.join(self.staging, f["name"]), dst)
        now = time.time()
        os.utime(dst, (now, now))
        f["dropped_at"] = now

    def run(self, files: list[dict]) -> None:
        for f in files:
            wait = f["due"] - time.time()
            if wait > 0:
                time.sleep(wait)
            self.drop(f, f["due"])


def _result(files, calls, t_start, t_stop, t_setup, sink, progress, timed) -> dict:
    # a file never committed counts with its wait until the stream stopped,
    # a lower bound that misses any latency limit the committed files meet
    vis = []
    for f in timed:
        lat = f.get("committed_at", t_stop) - f["due"]
        if lat < 0:
            raise RuntimeError(f"harness: negative latency for {f['name']}")
        vis.append(lat)
    done = [f for f in timed if "committed_at" in f]
    rows = sum(f["rows"] for f in done)
    last = max((f["committed_at"] for f in done), default=t_start)
    return {
        "setup_s": t_setup,
        "offered_rows": sum(f["rows"] for f in timed),
        "committed_rows": rows,
        "events_per_s": rows / (last - t_start) if last > t_start else 0.0,
        "visibility": vis,
        "cutoff_event": cutoff(files),
        "files": files,
        "t_start": t_start,
        "calls": calls,
        "sink": sink,
        "progress": [progress[k] for k in sorted(progress)],
    }


if __name__ == "__main__":
    main()
