"""Deterministic benchmark inputs: base tables, CDC logs and their files.

Everything here is pure numpy/pyarrow, so inputs are generated before the
measured process starts and never depend on Python's salted ``hash()``.

* The ``events`` base table has a fixed content seed and the shape of the
  sf0.1 fixture: 100k events over 1,500 users spread over 30 days.
* The CDC logs mirror the program's adapters row for row:
  ``events_as_cdc_ops`` (all op codes 0-9 over ``KV_STATE_DESC``) and
  ``events_as_cdc`` (``USER_STATE_DESC``).
* The run seed only decides how the log is cut into files, the row order
  inside each file, and which CDC batches are delivered a second time.
  A file boundary never splits a CDC batch (rows sharing a change time).
* A live tail's event times are mapped onto its drop clock (``retime``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
T_BASE_US = 1_600_000_000_000_000
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
_ENVELOPE = [
    ("cdc$stream_id", pa.binary()),
    ("cdc$time_ts", pa.timestamp("us", tz="UTC")),
]
OPS_SCHEMA = pa.schema(
    [
        *_ENVELOPE,
        ("cdc$time_micros", pa.int64()),
        ("cdc$batch_seq_no", pa.int32()),
        ("cdc$operation", pa.int8()),
        ("cdc$end_of_batch", pa.bool_()),
        ("cdc$ttl", pa.int64()),
        ("grp", pa.int64()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
USER_SCHEMA = pa.schema(
    [
        *_ENVELOPE,
        ("cdc$batch_seq_no", pa.int32()),
        ("cdc$operation", pa.int8()),
        ("cdc$end_of_batch", pa.bool_()),
        ("cdc$ttl", pa.int64()),
        ("user_id", pa.int64()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
def events_table(n_events: int = 100_000, n_users: int = 1_500) -> pa.Table:
    rng = np.random.default_rng(CONTENT_SEED)
    span_us = 30 * 86_400 * 1_000_000
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = start_us + np.sort(rng.choice(span_us, size=n_events, replace=False))
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        schema=EVENTS_SCHEMA,
    )


def _stream_ids(vnode_of: np.ndarray) -> list[bytes]:
    """16-byte stream id with ``vnode * 16 + 1`` in the low bytes, as the
    program's ``stream_id_expr`` builds it."""
    return [int(v * 16 + 1).to_bytes(16, "big") for v in vnode_of]


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, pa.timestamp("us", tz="UTC"))


def ops_log(events: pa.Table, n_groups: int = 40, n_vnodes: int = 16) -> pa.Table:
    """``events_as_cdc_ops`` (default ``include``, no TTL): one row per
    event, two rows (left/right bound) per range delete. Rows are ordered
    by change time, bound pairs adjacent."""
    eid = events["event_id"].to_numpy()
    uid = events["user_id"].to_numpy()
    val = events["value"].to_numpy(zero_copy_only=False)
    props = np.asarray(events["props"].to_pylist(), dtype=object)
    m = eid % 24
    grp = uid % n_groups
    t = T_BASE_US + eid * 1000
    v = np.where(np.isnan(val), 0.0, val)
    p = np.where(props == None, np.char.add("p", (uid % 7).astype(str)), props)  # noqa: E711
    lo = uid - n_groups * (eid % 5 + 1)
    hi = uid + n_groups * (eid % 3 + 1)

    rng_rows = np.isin(m, (1, 2))
    # row index -> (event position, part): single rows part 0; range
    # deletes emit part 0 (left bound) and part 1 (right bound)
    pos = np.repeat(np.arange(len(eid)), np.where(rng_rows, 2, 1))
    part = np.zeros(len(pos), dtype=np.int32)
    part[1:] = (pos[1:] == pos[:-1]).astype(np.int32)
    mm = m[pos]
    is_rng = np.isin(mm, (1, 2))
    op = np.select(
        [mm == 0, mm == 3, mm == 4, mm == 5, mm >= 15, mm >= 6,
         (mm == 1) & (part == 0), (mm == 2) & (part == 0), mm == 1, mm == 2],
        [4, 3, 9, 0, 1, 2, 5, 6, 7, 8],
    ).astype(np.int8)
    ck = np.where(is_rng, np.where(part == 0, lo[pos], hi[pos]), uid[pos])
    has_val = (mm >= 4) & ~is_rng
    return pa.table(
        {
            "cdc$stream_id": _stream_ids(grp[pos] % n_vnodes),
            "cdc$time_ts": _ts(t[pos]),
            "cdc$time_micros": t[pos],
            "cdc$batch_seq_no": part,
            "cdc$operation": op,
            "cdc$end_of_batch": ~is_rng | (part == 1),
            "cdc$ttl": pa.nulls(len(pos), pa.int64()),
            "grp": grp[pos],
            "user_id": pa.array(ck, pa.int64(), mask=(mm == 0)),
            "value": pa.array(v[pos], pa.float64(), mask=~has_val),
            "props": pa.array(p[pos], pa.string(), mask=~has_val),
            "__event": eid[pos],
        }
    )


def user_log(events: pa.Table, n_vnodes: int = 16) -> pa.Table:
    """``events_as_cdc``: one single-row CDC batch per event."""
    uid = events["user_id"].to_numpy()
    et = np.asarray(events["event_type"].to_pylist(), dtype=object)
    op = np.where(et == "signup", 2, np.where(et == "error", 3, 1)).astype(np.int8)
    n = len(uid)
    return pa.table(
        {
            "cdc$stream_id": _stream_ids(uid % n_vnodes),
            "cdc$time_ts": events["ts"].cast(pa.timestamp("us", tz="UTC")),
            "cdc$batch_seq_no": events["event_id"].cast(pa.int32()),
            "cdc$operation": op,
            "cdc$end_of_batch": np.ones(n, dtype=bool),
            "cdc$ttl": pa.nulls(n, pa.int64()),
            "user_id": uid,
            "value": events["value"],
            "props": events["props"],
            "__event": events["event_id"].to_numpy(),
        }
    )


def split_files(
    log: pa.Table,
    n_files: int,
    seed: int,
    dup_share: float = 0.02,
) -> list[dict]:
    """Cut ``log`` (ordered by change time, with an ``__event`` column naming
    each row's CDC batch) into ``n_files`` seeded chunks.

    Each chunk's size is drawn in [0.75, 1.25] x the mean and snapped to a
    CDC-batch boundary; its rows are shuffled; ``dup_share`` of its batches
    are delivered again in the next file. Returns per file: the table to
    write (without ``__event``), the first/last event of its own batches,
    its own row count and its redelivered row count.
    """
    rng = np.random.default_rng(seed)
    ev = log["__event"].to_numpy()
    starts = np.flatnonzero(np.r_[True, ev[1:] != ev[:-1]])  # batch starts
    n_batches = len(starts)
    weights = rng.uniform(0.75, 1.25, n_files)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n_batches).astype(int)
    bounds = np.r_[0, cuts]
    batch_end = np.r_[starts[1:], len(ev)]
    body = log.drop_columns(["__event"])
    files, carry = [], None
    for i in range(n_files):
        b0, b1 = bounds[i], bounds[i + 1]
        if b1 <= b0:
            continue
        own = body.slice(starts[b0], batch_end[b1 - 1] - starts[b0])
        parts = [own] + ([carry] if carry is not None else [])
        dup_rows = carry.num_rows if carry is not None else 0
        table = pa.concat_tables(parts)
        table = table.take(rng.permutation(table.num_rows))
        picked = np.flatnonzero(rng.random(b1 - b0) < dup_share) + b0
        carry = None
        if len(picked):
            idx = np.concatenate([np.arange(starts[b], batch_end[b]) for b in picked])
            carry = body.take(idx)
        files.append(
            {
                "table": table,
                "first_event": int(ev[starts[b0]]),
                "last_event": int(ev[batch_end[b1 - 1] - 1]),
                "rows": own.num_rows,
                "dup_rows": dup_rows,
            }
        )
    return files


def retime(events: pa.Table, files: list[dict], interval_s: float) -> pa.Table:
    """Map each event's time onto the scheduled drop of its file: event k of
    the n in file i gets ``ts[0] + (i + k / n) * interval_s``.

    The map is strictly increasing in the event order, so the log's order,
    its batches and every oracle stay the same, while event time advances
    with the drop clock as in a live tail: the confidence watermark and the
    dedup state then hold the last 30 s of changes, and redelivered batches
    reach the dedup store instead of being dropped as late rows.
    """
    ts = events["ts"].cast(pa.int64()).to_numpy().copy()
    step_us = interval_s * 1e6
    t0 = ts[0]
    for i, f in enumerate(files):
        a, b = f["first_event"], f["last_event"] + 1
        ts[a:b] = t0 + np.round((i + np.arange(b - a) / (b - a)) * step_us).astype(np.int64)
    return events.set_column(
        events.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp("us"))
    )


def write_parquet(table: pa.Table, path: str, schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.select(schema.names).cast(schema), path, compression="snappy")
