"""Change application — the "replicator" as a distributed merge kernel.

Re-expresses the reference's replicator sink program (R1-R10, reference
scylla-cdc-replicator/.../ReplicatorConsumer.java:37-124 and the
operations/ handler tree) as batch DataFrame operators:

* ``pair_range_deletes`` — J1 batch analog: pair the two bound rows of a
  range delete per stream with ``lead()`` over the per-stream order
  (reference buffers the left bound in keyed state,
  RangeDeleteState.java:8-38).
* ``apply_cdc_log`` — cell-level CQL write semantics
  (insert/update/row-delete/partition-delete/range-delete, null-vs-unset
  via ``cdc$deleted_*``, non-frozen collection deltas, pre/post-image
  modes, TTL expiry) on one of two paths, chosen from the table
  descriptor and ``as_of_micros`` alone:

  - **native cell-LWW** (``_apply_scalar_native``) when the table has no
    clustering key, no non-frozen collection, and no TTL evaluation is
    asked for: one duplicate-insensitive JVM aggregation, no Python;
  - **the pandas fold** (``_make_fold_kernel``) for everything else: an
    ``applyInPandas`` over hash-bucket groups of the partition key. One
    shuffle co-locates every change that can affect a CQL partition (row
    ops, partition deletes, range bounds), then an ordered fold inside
    the Arrow batch applies each partition's changes in
    (cdc$time, batch_seq_no) order — the same per-stream total order the
    reference relies on
    (WorkerTest.testWorkerConsumesSingleVNodeChangesInOrder).

Scale posture: either path's only shuffle is the one on the key — the
minimum co-location requirement for CQL semantics. The fold groups on
``hash(pk) % _KERNEL_BUCKETS``, so kernel-call count stays bounded instead
of growing with key cardinality. Skewed partitions degrade exactly like
hot CQL partitions; AQE skew handling applies. Everything before the
kernel (normalize, op-split) is native/codegen; P2 dedup rides inside
both paths (max/max_by aggregates on the native one, adjacent-ChangeId
skipping in the fold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.ops import OperationType
from ..model.schema import (
    DELETED_ELEMENTS_PREFIX,
    DELETED_PREFIX,
    CdcTableDescriptor,
)
from .normalize import TIME_MICROS, normalize_changes

_SEQ = "cdc$batch_seq_no"
_OP = "cdc$operation"
# The fold groups on ``hash(pk) % _KERNEL_BUCKETS`` rather than the raw
# partition key: one kernel call folds every CQL partition of its bucket,
# so invocations (and task bookkeeping) stay bounded while the shuffle
# volume is identical and co-location still holds.
_KERNEL_BUCKETS = 1024


def pair_range_deletes(changes: DataFrame, desc: CdcTableDescriptor) -> DataFrame:
    """J1: pair left/right range-delete bound rows per stream.

    Emits one row per completed range delete with the partition key, the
    left/right clustering bounds and their inclusivity. Unmatched left
    bounds (right bound outside the read window) are dropped, matching the
    reference's buffer-until-right-bound behavior.
    """
    changes = normalize_changes(changes)
    bounds = changes.where(F.col(_OP).cast("int").isin([5, 6, 7, 8]))
    w = Window.partitionBy("cdc$stream_id").orderBy(F.col(TIME_MICROS), F.col(_SEQ))
    ck = desc.clustering_keys
    nxt = lambda c: F.lead(c).over(w)  # noqa: E731
    paired = (
        bounds.withColumn("next_op", nxt(F.col(_OP)))
        .withColumns({f"right_{c}": nxt(F.col(c)) for c in ck})
        .where(F.col(_OP).cast("int").isin([5, 6]) & F.col("next_op").cast("int").isin([7, 8]))
    )
    sel = [
        *desc.partition_keys,
        F.col(TIME_MICROS).alias("delete_time_micros"),
        (F.col(_OP).cast("int") == 5).alias("left_inclusive"),
        (F.col("next_op").cast("int") == 7).alias("right_inclusive"),
    ]
    sel += [F.col(c).alias(f"left_{c}") for c in ck]
    sel += [F.col(f"right_{c}") for c in ck]
    return paired.select(*sel)


def _plain_desc(desc: CdcTableDescriptor) -> dict:
    """Reduce the descriptor to plain python values for closure capture
    (workers deserialize the kernel without importing this package)."""
    kinds = {}
    for col in desc.regular_columns:
        dt = desc.base_field(col).dataType
        if col in desc.list_columns:
            kinds[col] = "list"
        elif col in desc.non_frozen_collections and isinstance(dt, T.ArrayType):
            kinds[col] = "set"
        elif col in desc.non_frozen_collections and isinstance(dt, T.MapType):
            kinds[col] = "map"
        elif col in desc.non_frozen_collections and isinstance(dt, T.StructType):
            kinds[col] = "udt"
        else:
            kinds[col] = "scalar"
    return {
        "pk": list(desc.partition_keys),
        "ck": list(desc.clustering_keys),
        "regular": list(desc.regular_columns),
        "kinds": kinds,
        "udt_fields": {
            col: [f.name for f in desc.base_field(col).dataType.fields]
            for col in desc.regular_columns
            if isinstance(desc.base_field(col).dataType, T.StructType)
        },
    }


def _apply_scalar_native(
    changes: DataFrame, d: dict, with_version: bool, out_cols: list[str]
) -> DataFrame:
    """Fully-native cell-granularity LWW apply for clustering-key-less,
    scalar-only tables.

    The reference's prepared-statement writes are per-cell last-writer-wins
    with tombstone shadowing (PreparedUpdateOperationHandler.java:19-66,
    ``USING TIMESTAMP``); for tables with no clustering key and no
    non-frozen collections that fold is expressible as ONE
    duplicate-insensitive aggregation:

    * per pk: latest tombstone ``(t, seq)`` (row and partition deletes
      coincide without a clustering key, and range deletes cannot exist),
      latest marker write (insert/post-image), and per column the latest
      *written* state (a value or an explicit ``cdc$deleted_*`` tombstone;
      op-9 images write every column);
    * a cell is live iff its last write is newer than the tombstone and
      carried a value; the row is emitted iff the marker or any cell is
      live.

    Because every aggregate is max/max_by, at-least-once redelivery (P2)
    deduplicates for free, partial aggregation runs map-side, and the one
    shuffle on the key is the whole plan — no Python, no per-row fold.
    """
    pk, regular = d["pk"], d["regular"]
    opI = F.col(_OP).cast("int")
    ord_struct = F.struct(
        F.col(TIME_MICROS).alias("t"), F.col(_SEQ).cast("int").alias("s")
    )
    neg = F.struct(
        F.lit(-(2**63)).cast("long").alias("t"), F.lit(0).cast("int").alias("s")
    )
    is_write = opI.isin(1, 2, 9)
    is_marker = opI.isin(2, 9)

    aggs = [
        F.max(F.when(opI.isin(3, 4), ord_struct)).alias("__del"),
        F.max(F.when(is_marker, ord_struct)).alias("__marker"),
        F.max(F.when(is_write, F.col(TIME_MICROS))).alias("__ver"),
    ]
    for c in regular:
        darr = F.col(f"cdc$deleted_{c}") if f"cdc$deleted_{c}" in changes.columns else F.lit(None)
        written = is_write & (
            F.col(c).isNotNull() | F.coalesce(darr, F.lit(False)) | (opI == 9)
        )
        aggs.append(F.max(F.when(written, ord_struct)).alias(f"__w_{c}"))
        aggs.append(F.max_by(F.col(c), F.when(written, ord_struct)).alias(f"__v_{c}"))
    grouped = changes.groupBy(*pk).agg(*aggs)

    del_eff = F.coalesce(F.col("__del"), neg)
    vals = {c: F.when(F.col(f"__w_{c}") > del_eff, F.col(f"__v_{c}")) for c in regular}
    marker_alive = F.coalesce(F.col("__marker") > del_eff, F.lit(False))
    any_cell = F.lit(False)
    for c in regular:
        any_cell = any_cell | vals[c].isNotNull()
    sel = [*pk]
    if with_version:
        sel.append(F.col("__ver").alias(TIME_MICROS))
    sel += [vals[c].alias(c) for c in regular]
    out = grouped.where(marker_alive | any_cell).select(*sel)
    return out.select(*out_cols)


def apply_cdc_log(
    changes: DataFrame,
    desc: CdcTableDescriptor,
    mode: str = "delta",
    initial_state: DataFrame | None = None,
    with_version_col: bool = False,
    as_of_micros: int | None = None,
) -> DataFrame:
    """Apply a CDC change log to (optional) initial state → current state.

    ``mode``: ``delta`` (ops 1-8; images ignored, R9), ``postimage``
    (op 9 replaces ops 1/2 as a full-row write, deletes still apply — R8).
    Output schema = the base-table schema (list columns materialized back
    to arrays in timeuuid order, O3).

    ``with_version_col=True`` appends ``cdc$time_micros`` = the time of the
    last change applied to each surviving row. Feeding that state back as
    ``initial_state`` of a later apply makes incremental application
    convergent under at-least-once replay at *row* granularity — the Spark
    analog of the reference's idempotent ``USING TIMESTAMP`` writes
    (ExecutingPreparedStatementHandler.java:45-53), which are convergent at
    *cell* granularity. A replayed change older than the row's version sorts
    before the seeded row in the fold and is overwritten by it.

    ``as_of_micros`` enables TTL visibility: a write carrying ``cdc$ttl``
    (seconds — the reference passes it through verbatim via ``USING TTL``,
    InsertOperationHandler.java:15-48) expires its scalar cells and, for
    inserts, the row marker at ``write_time + ttl``; cells/markers expired
    at ``as_of_micros`` are invisible in the output. ``None`` (default)
    skips expiry evaluation. Collection *elements* inherit the TTL of the
    write that last set them (per-element expiry, the reference's
    ``USING TTL`` pass-through on collection writes,
    ExecutingPreparedStatementHandler.java:45-53) — expired set/map/list
    elements and UDT fields vanish from the materialized value.

    The path follows from the descriptor and ``as_of_micros`` alone: a
    table with no clustering key and no non-frozen collection, applied
    without TTL evaluation, takes the native cell-LWW aggregation
    (``_apply_scalar_native``); everything else takes the pandas fold.
    Both dedup redelivered ChangeIds (P2).
    """
    if mode not in ("delta", "postimage"):
        raise ValueError(f"unknown mode {mode!r}")
    d = _plain_desc(desc)
    changes = normalize_changes(changes)
    # P2 dedup happens INSIDE either path (duplicate ChangeIds are
    # adjacent after the fold's in-group sort; max/max_by ignore them), so
    # the change stream shuffles exactly once — on the partition key —
    # instead of paying a second full shuffle for a standalone
    # dropDuplicates.

    if mode == "delta":
        changes = changes.where(~F.col(_OP).cast("int").isin([0, 9]))
    else:
        changes = changes.where(~F.col(_OP).cast("int").isin([0, 1, 2]))

    # Project to the columns the fold needs; column pruning reaches the scan.
    deleted_cols = [
        c
        for c in changes.columns
        if c.startswith(DELETED_PREFIX) and not c.startswith(DELETED_ELEMENTS_PREFIX)
    ]
    delem_cols = [c for c in changes.columns if c.startswith(DELETED_ELEMENTS_PREFIX)]
    base_cols = [f.name for f in desc.base_schema.fields]
    keep = [
        "cdc$stream_id", TIME_MICROS, _SEQ, _OP, "cdc$ttl",
        *base_cols, *deleted_cols, *delem_cols,
    ]
    changes = changes.select(*[c for c in keep if c in changes.columns])

    if initial_state is not None:
        # Seed rows enter the fold as POST_IMAGE (op 9) full-row images: the
        # kernel applies them as whole-row overwrites, so any *replayed*
        # change older than the row's version (which the seed already
        # reflects) is clobbered by the seed rather than merged — the delta
        # semantics that would otherwise resurrect tombstoned cells.
        seed = initial_state
        for c in desc.list_columns:
            if c in seed.columns and isinstance(seed.schema[c].dataType, T.ArrayType):
                # materialized list (array) → log encoding map<timeuuid,elem>;
                # synthetic v1 uuids with time=i keep element order and sort
                # before any real append timeuuid (~1.4e17 in uuid time units).
                seed = seed.withColumn(
                    c,
                    F.map_from_arrays(
                        F.transform(
                            F.col(c),
                            lambda x, i: F.format_string(
                                "%08x-0000-1000-8000-000000000000", i
                            ),
                        ),
                        F.col(c),
                    ),
                )
        for c in changes.columns:
            if c not in seed.columns and c not in (_SEQ, _OP):
                if c == TIME_MICROS:
                    seed = seed.withColumn(c, F.lit(-(2**62)).cast("long"))
                else:
                    seed = seed.withColumn(c, F.lit(None).cast(changes.schema[c].dataType))
        # max-int seq: the seed wins (time, seq) ties against a replayed
        # copy of the exact change it already reflects
        seed = seed.withColumn(_SEQ, F.lit(2**31 - 1)).withColumn(
            _OP, F.lit(int(OperationType.POST_IMAGE)).cast("byte")
        )
        changes = changes.unionByName(seed.select(*changes.columns))

    out_schema = desc.base_schema
    if with_version_col:
        out_schema = T.StructType(
            [*out_schema.fields, T.StructField(TIME_MICROS, T.LongType())]
        )

    out_names = [f.name for f in out_schema.fields]
    scalar_only = all(k == "scalar" for k in d["kinds"].values())
    if not d["ck"] and scalar_only and as_of_micros is None:
        return _apply_scalar_native(changes, d, with_version_col, out_names)

    kernel = _make_fold_kernel(
        d, out_names, with_version=with_version_col, as_of=as_of_micros
    )
    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in d["pk"]]), F.lit(_KERNEL_BUCKETS)
    ).alias("__kbucket")
    return (
        changes.withColumn("__kbucket", bucket)
        .groupBy("__kbucket")
        .applyInPandas(kernel, schema=out_schema)
    )


def _make_fold_kernel(
    d: dict,
    out_cols: list[str],
    with_version: bool = False,
    as_of: int | None = None,
):
    """Build the per-partition ordered fold. Nested def so cloudpickle
    ships it by value; references only stdlib + pandas."""
    import pandas as pd  # noqa: F401  (captured for the closure)

    GREGORIAN = 0x01B21DD213814000
    pk_cols, ck_cols, regular, kinds = d["pk"], d["ck"], d["regular"], d["kinds"]
    udt_fields = d["udt_fields"]
    # mode-dependent op filtering happens before the kernel; op 9 rows are
    # always applied as full-row images here (real post-images or seeds)

    def timeuuid_key(u: str):
        import uuid as _uuid

        return (_uuid.UUID(u).time - GREGORIAN) // 10, u

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        # numpy lexsort + columnar access: ~3-5x faster than
        # sort_values + to_dict("records") on wide frames
        order = np.lexsort(
            (pdf["cdc$batch_seq_no"].to_numpy(), pdf["cdc$time_micros"].to_numpy())
        )
        cols = {c: pdf[c].to_numpy()[order] for c in pdf.columns}
        n_rows = len(order)
        # one kernel call folds EVERY CQL partition of its hash bucket:
        # state nests pk -> ck -> entry, range-delete pairing is keyed per
        # pk (the reference keys its buffer per stream, RangeDeleteState)
        rows: dict[tuple, dict[tuple, dict]] = {}
        pending_left: dict[tuple, tuple] = {}  # pk -> (ck_bound, inclusive)

        def bound_ok(ck_t, bound, inclusive, is_left):
            for a, b in zip(ck_t, bound):
                if b is None:
                    break
                if a is None:
                    return not is_left  # null ck sorts first
                if a == b:
                    continue
                return (a > b) if is_left else (a < b)
            return inclusive

        def write_cell(cells, col, value, deleted, del_elems, ee, exp_val):
            # ``ee`` (element-expiry dict, only when as_of is evaluated)
            # inherits the write's TTL per written element/field — the
            # reference passes ``USING TTL`` through on collection writes
            # (ExecutingPreparedStatementHandler.java:45-53), so elements
            # carry the TTL of the write that last set them.
            kind = kinds[col]
            if kind == "scalar":
                if value is not None:
                    cells[col] = value
                elif deleted:
                    cells.pop(col, None)
                return
            if kind == "set":
                cur = set() if deleted else set(cells.get(col) or ())
                if ee is not None and deleted:
                    ee.clear()
                if value is not None:
                    cur.update(value)
                    if ee is not None:
                        for e in value:
                            ee[e] = exp_val
                if del_elems is not None:
                    cur.difference_update(del_elems)
                    if ee is not None:
                        for e in del_elems:
                            ee.pop(e, None)
                if cur:
                    cells[col] = sorted(cur)
                else:
                    cells.pop(col, None)
                return
            if kind in ("map", "list"):
                cur = {} if deleted else dict(cells.get(col) or {})
                if ee is not None and deleted:
                    ee.clear()
                if value is not None:
                    # Arrow hands MapType values to pandas as
                    # list-of-(k, v) tuples; dict() takes either form
                    vm = dict(value)
                    cur.update(vm)
                    if ee is not None:
                        for k in vm:
                            ee[k] = exp_val
                if del_elems is not None:
                    for k in del_elems:
                        cur.pop(k, None)
                        if ee is not None:
                            ee.pop(k, None)
                if cur:
                    cells[col] = cur
                else:
                    cells.pop(col, None)
                return
            if kind == "udt":
                names = udt_fields[col]
                if deleted:
                    cur = dict.fromkeys(names)
                    if ee is not None:
                        ee.clear()
                else:
                    cur = dict(cells.get(col) or dict.fromkeys(names))
                if value is not None:
                    vals = list(value) if not isinstance(value, dict) else [value.get(n) for n in names]
                    for n, fv in zip(names, vals):
                        if fv is not None:
                            cur[n] = fv
                            if ee is not None:
                                ee[n] = exp_val
                if del_elems is not None:
                    for idx in del_elems:
                        cur[names[int(idx)]] = None
                        if ee is not None:
                            ee.pop(names[int(idx)], None)
                if any(v is not None for v in cur.values()):
                    cells[col] = cur
                else:
                    cells.pop(col, None)
                return
            raise AssertionError(kind)

        import math

        def sv(x):
            # Arrow->pandas turns nullable ints into float NaN and nullable
            # bools into object NaN; NaN is truthy, so sanitize to None.
            if x is None:
                return None
            if isinstance(x, float) and math.isnan(x):
                return None
            return x

        def iv(x):
            # integers round-tripped through float64 (nullable int columns)
            x = sv(x)
            if isinstance(x, float) and x.is_integer():
                return int(x)
            return x

        op_arr = cols["cdc$operation"]
        time_arr = cols["cdc$time_micros"]
        seq_arr = cols["cdc$batch_seq_no"]
        ttl_arr = cols.get("cdc$ttl")
        sid_arr = cols.get("cdc$stream_id")
        pk_arrs = [cols[c] for c in pk_cols]
        ck_arrs = [cols[c] for c in ck_cols]
        reg_arrs = {c: cols.get(c) for c in regular}
        del_arrs = {c: cols.get(f"cdc$deleted_{c}") for c in regular}
        delem_arrs = {c: cols.get(f"cdc$deleted_elements_{c}") for c in regular}
        run_key, run_seen = None, set()
        for x in range(n_rows):
            if sid_arr is not None:
                # P2 in-fold dedup: duplicate deliveries of one ChangeId
                # (stream, time, seq) are adjacent after the sort; seed
                # rows (null stream id) are never deduped.
                key = (int(time_arr[x]), int(seq_arr[x]))
                if key != run_key:
                    run_key, run_seen = key, set()
                sid = sid_arr[x]
                if sid is not None:
                    sid = bytes(sid)
                    if sid in run_seen:
                        continue
                    run_seen.add(sid)
            op = int(op_arr[x])
            pk_t = tuple(
                iv(a[x]) if not isinstance(a[x], (bytes, bytearray)) else bytes(a[x])
                for a in pk_arrs
            )
            ck_t = tuple(iv(a[x]) for a in ck_arrs)
            if op == 4:  # partition delete
                rows.pop(pk_t, None)
                pending_left.pop(pk_t, None)
                continue
            if op in (5, 6):
                pending_left[pk_t] = (ck_t, op == 5)
                continue
            if op in (7, 8):
                pend = pending_left.pop(pk_t, None)
                if pend is not None and pk_t in rows:
                    lb, lincl = pend
                    rincl = op == 7
                    part = rows[pk_t]
                    doomed = [
                        k
                        for k in part
                        if bound_ok(k, lb, lincl, True) and bound_ok(k, ck_t, rincl, False)
                    ]
                    for k in doomed:
                        del part[k]
                continue
            if op == 3:  # row delete
                part = rows.get(pk_t)
                if part is not None:
                    part.pop(ck_t, None)
                continue
            # writes: 1 update / 2 insert / 9 postimage
            part = rows.setdefault(pk_t, {})
            entry = part.get(ck_t)
            if entry is None:
                entry = part[ck_t] = {"marker": False, "cells": {}, "exp": {}}
            entry["ver"] = int(time_arr[x])
            ttl_val = sv(ttl_arr[x]) if ttl_arr is not None else None
            exp_val = (
                int(time_arr[x]) + int(ttl_val) * 1_000_000 if ttl_val else None
            )
            if op in (2, 9):
                entry["marker"] = True
                entry["marker_exp"] = exp_val
            for col in regular:
                arr = reg_arrs[col]
                value = arr[x] if arr is not None else None
                if kinds[col] == "scalar" and not isinstance(value, (bytes, bytearray)):
                    value = iv(value)
                else:
                    value = sv(value) if isinstance(value, float) else value
                if op == 9:
                    # full-row image (real post-image, or an initial_state
                    # seed row): overwrite every column — absent value is an
                    # absent cell, collections replaced not merged
                    deleted = True
                else:
                    darr = del_arrs[col]
                    deleted = bool(sv(darr[x] if darr is not None else None) or False)
                earr = delem_arrs[col]
                del_elems = earr[x] if earr is not None else None
                if isinstance(del_elems, float):
                    del_elems = sv(del_elems)
                if del_elems is not None and not isinstance(del_elems, (list, tuple)):
                    del_elems = list(del_elems)
                if value is None and not deleted and del_elems is None:
                    continue  # unset
                ee = None
                if as_of is not None and kinds[col] != "scalar":
                    ee = entry.setdefault("eexp", {}).setdefault(col, {})
                write_cell(entry["cells"], col, value, deleted, del_elems, ee, exp_val)
                if kinds[col] == "scalar":
                    if value is not None:
                        entry["exp"][col] = exp_val
                    elif deleted:
                        entry["exp"].pop(col, None)
            if not entry["marker"] and not entry["cells"]:
                del part[ck_t]  # update that wrote only tombstones to a dead row

        out = []
        for pk_t, part in rows.items():
          for ck_t, entry in part.items():
            cells, marker = entry["cells"], entry["marker"]
            if as_of is not None:
                expmap = entry.get("exp", {})
                eexp = entry.get("eexp", {})
                new_cells = {}
                for c, v in cells.items():
                    if kinds[c] == "scalar":
                        if expmap.get(c) is None or expmap[c] > as_of:
                            new_cells[c] = v
                        continue
                    ee = eexp.get(c, {})

                    def live(k):
                        e = ee.get(k)
                        return e is None or e > as_of

                    if kinds[c] == "set":
                        v = [e for e in v if live(e)]
                    elif kinds[c] in ("map", "list"):
                        v = {k: val for k, val in v.items() if live(k)}
                    else:  # udt: expired fields null out
                        v = {n: (val if live(n) else None) for n, val in v.items()}
                        if not any(val is not None for val in v.values()):
                            v = None
                    if v:
                        new_cells[c] = v
                cells = new_cells
                mexp = entry.get("marker_exp")
                if marker and mexp is not None and mexp <= as_of:
                    marker = False
            if not marker and not cells:
                continue
            rec = {}
            for c, v in zip(pk_cols, pk_t):
                rec[c] = v
            for c, v in zip(ck_cols, ck_t):
                rec[c] = v
            if with_version:
                rec[TIME_MICROS] = entry.get("ver")
            for col in regular:
                v = cells.get(col)
                kind = kinds[col]
                if v is None:
                    rec[col] = None
                elif kind == "list":
                    rec[col] = [val for _, val in sorted(v.items(), key=lambda kv: timeuuid_key(kv[0]))]
                elif kind == "map":
                    rec[col] = v
                elif kind == "udt":
                    rec[col] = tuple(v[n] for n in udt_fields[col])
                else:
                    rec[col] = v
            out.append(rec)
        return pd.DataFrame(out, columns=out_cols)

    return fold
