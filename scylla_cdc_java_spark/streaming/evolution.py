"""Mid-stream schema evolution (ALTER TABLE while the consumer runs).

The reference rebuilds its ``ChangeSchema`` whenever a page's
column-definition set stops matching the cached one
(Driver3WorkerCQL.java:133-159) and reconciles old/new layouts in the
schema factory (Driver3SchemaFactory.java:73-153); its AlterTableBase
integration tests (scylla-cdc-lib/src/test/.../AlterTableBase.java:28
family) add and drop columns while replication is live.

Spark's file-stream source pins the read schema at query start, so the
Spark-native equivalent has two parts:

* **within one run** — heterogeneous input files are fine: the parquet
  reader null-fills columns a pre-ALTER file lacks and ignores columns a
  post-DROP schema no longer declares, and ``conform_changes`` gives the
  same tolerance to batch frames fed straight to the sink;
* **across schema changes** — ``replicate_with_schema_evolution`` derives
  each pass's schema from the merged parquet footers of every
  not-yet-processed file plus the newest one (footer reads, no data
  scan): no pending file is ever read under a schema narrower than its
  own, even when a post-ALTER file's mtime sorts older (distributed
  writers). It evolves the table descriptor when the signature changes
  (ALTER ADD -> new nullable column, ALTER DROP -> column removed once
  the old files are consumed, ALTER TYPE ADD/DROP -> nested UDT field
  reconciliation via ``conform_column``), and rolls the stream onto the
  new schema by restarting the AvailableNow pass on the *same
  checkpoint* — already-processed files are skipped by the source's
  offset log, the semantics of the reference's schema-hash-triggered
  requery at file granularity (a file that lands in the instant between
  the footer listing and the source's own listing is still read under
  the pass schema; the listing happens immediately before the pass, so
  that window is the file-landing race every file source has). The sink
  reads the materialized state under the current descriptor's schema
  (added columns and UDT fields read NULL, dropped ones are not read), so
  both halves of the ALTER land without user intervention.

Scale posture: signature detection reads one parquet footer; the evolve
loop adds zero data-plane work — each round is the normal replication
pipeline, and rounds beyond the first only happen when an ALTER actually
occurred.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model.schema import (
    CDC_PREFIX,
    DELETED_ELEMENTS_PREFIX,
    DELETED_PREFIX,
    CdcTableDescriptor,
    build_cdc_log_schema,
    conform_column,
    descriptor_diff,
)
from ..model.statestore import commit_json
from .replicator import _Replication


def save_descriptor(desc: CdcTableDescriptor, path: str) -> None:
    """Persist a descriptor as JSON (schema-cache analog of the reference's
    Driver3SchemaFactory: the current ChangeSchema survives restarts even
    after old log files are archived away). Every descriptor field is
    stored."""
    doc = {f.name: getattr(desc, f.name) for f in fields(desc)}
    doc["base_schema"] = desc.base_schema.json()
    commit_json(path, doc)


def load_descriptor(path: str) -> CdcTableDescriptor | None:
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        doc = json.load(fh)
    doc["base_schema"] = T.StructType.fromJson(json.loads(doc["base_schema"]))
    return CdcTableDescriptor(**doc)


# Envelope columns that carry change identity/order — conform_changes will
# never fabricate these; their absence is a malformed stream.
_IDENTITY_COLS = ("cdc$stream_id", "cdc$batch_seq_no", "cdc$operation")


def conform_changes(df: DataFrame, desc: CdcTableDescriptor) -> DataFrame:
    """Conform a CDC-log batch frame to ``desc``'s wire schema.

    The *log* side of the sink's state read under the descriptor's
    schema: value and ``cdc$deleted_*`` columns the frame lacks (files
    written before an ALTER ADD) become typed NULLs; value columns the
    descriptor no longer declares (ALTER DROP) disappear; unknown ``cdc$`` envelope extras
    (e.g. ``generation`` partition dirs, derived time columns) pass
    through untouched. Identity envelope columns must already be present.
    """
    target = build_cdc_log_schema(desc)
    have = {f.name: f for f in df.schema.fields}
    missing_id = [c for c in _IDENTITY_COLS if c not in have]
    if missing_id:
        raise ValueError(f"change frame is missing identity columns {missing_id}")
    target_names = {f.name for f in target.fields}
    cols: list = []
    for f in target.fields:
        if f.name in have:
            # nested reconciliation: an ALTER TYPE ADD/DROP changes a UDT
            # column's struct layout without changing the column set
            cols.append(
                conform_column(
                    F.col(f"`{f.name}`"), have[f.name].dataType, f.dataType
                ).alias(f.name)
            )
        elif f.name in _IDENTITY_COLS or not f.nullable:
            # nullable=False envelope columns (cdc$time/cdc$time_ts) are
            # derivable downstream; add typed nulls only when optional
            if f.name in ("cdc$time", "cdc$time_ts"):
                continue
            raise ValueError(f"change frame is missing required column {f.name}")
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    # passthrough: bookkeeping columns the pipeline added (vnode, micros,
    # generation partitions) that the wire schema doesn't know about
    for name in df.columns:
        if name in target_names:
            continue
        if name.startswith(DELETED_PREFIX) or name.startswith(
            DELETED_ELEMENTS_PREFIX
        ):
            continue  # markers of a dropped column go with it
        if name.startswith(CDC_PREFIX) or name == "generation":
            cols.append(F.col(f"`{name}`"))
    return df.select(*cols)


def descriptor_from_log_schema(
    log_schema: T.StructType, base: CdcTableDescriptor
) -> CdcTableDescriptor:
    """Rebuild the table descriptor implied by an observed CDC-log file
    schema — the ``Driver3SchemaFactory`` analog for parquet streams.

    Primary-key columns (never alterable in CQL) keep ``base``'s types;
    regular columns are whatever non-``cdc$`` value columns the log file
    declares, typed from the file. A ``cdc$deleted_elements_<col>``
    companion marks ``col`` as a non-frozen collection; a map-typed
    column that ``base`` declared as a list stays a list. Every other
    descriptor field (name, keys, replication mode) is ``base``'s.
    """
    names = [f.name for f in log_schema.fields]
    by_name = {f.name: f for f in log_schema.fields}
    pk = set(base.primary_key)
    missing_pk = [k for k in base.primary_key if k not in by_name]
    if missing_pk:
        raise ValueError(f"log schema is missing primary-key columns {missing_pk}")
    value_cols = [
        n
        for n in names
        if not n.startswith(CDC_PREFIX) and n != "generation" and n not in pk
    ]
    nf_cols = [
        n[len(DELETED_ELEMENTS_PREFIX) :]
        for n in names
        if n.startswith(DELETED_ELEMENTS_PREFIX)
    ]
    old_lists = set(base.list_columns)
    cols: list[T.StructField] = []
    for f in base.base_schema.fields:
        if f.name in pk:
            cols.append(f)
    list_cols: list[str] = []
    for n in value_cols:
        dt = by_name[n].dataType
        if n in old_lists and isinstance(dt, T.MapType):
            # wire map<timeuuid, elem> -> base list<elem>
            cols.append(T.StructField(n, T.ArrayType(dt.valueType), True))
            list_cols.append(n)
        else:
            cols.append(T.StructField(n, dt, True))
    return replace(
        base,
        base_schema=T.StructType(cols),
        non_frozen_collections=[c for c in nf_cols if c in value_cols],
        list_columns=list_cols,
    )


def _log_files(source_dir: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)
        if os.path.getsize(p) > 0
    ]


def pending_log_schema(
    spark: SparkSession, source_dir: str, processed: set[str]
) -> tuple[T.StructType | None, list[str]]:
    """Schema every *pending* file must be read under, plus the current
    file listing.

    Merges the footers (``mergeSchema`` — nested struct fields included)
    of every file not yet processed, together with the newest file by
    (mtime, path). Merging the unseen set — not just the newest file —
    closes the distributed-writer hole: a post-ALTER file whose mtime
    sorts older than a pre-ALTER one still contributes its widened
    columns, so no pending file is ever read under a schema narrower than
    its own (which would silently drop its new columns AND permanently
    skip them via the offset log on the evolved re-run). The newest file
    still anchors the merge so ALTER DROP takes effect once the old
    files' data has been consumed.

    Returns ``(None, files)`` when every file is already processed:
    schema changes are only ever inferred from *fresh* evidence — an
    already-consumed file set can't signal an ALTER, and re-deriving from
    the newest processed file would mis-read a late pre-ALTER straggler
    as an ALTER DROP, conforming the added column's data back out of the
    state.
    """
    files = _log_files(source_dir)
    unseen = {p for p in files if p not in processed}
    if not unseen:
        return None, files
    newest = max(files, key=lambda p: (os.path.getmtime(p), p))
    paths = sorted(unseen | {newest})
    return spark.read.option("mergeSchema", "true").parquet(*paths).schema, files



def _lost_nested_fields(
    old: CdcTableDescriptor, new: CdcTableDescriptor
) -> list[str]:
    """Base columns present in BOTH descriptors whose struct type LOST a
    field (recursively) — the ALTER TYPE DROP case that
    ``descriptor_diff``'s column-level view cannot see."""

    def lost(ot: T.DataType, nt: T.DataType) -> bool:
        if isinstance(ot, T.StructType) and isinstance(nt, T.StructType):
            nf = {f.name: f.dataType for f in nt.fields}
            for f in ot.fields:
                if f.name not in nf or lost(f.dataType, nf[f.name]):
                    return True
            return False
        if isinstance(ot, T.ArrayType) and isinstance(nt, T.ArrayType):
            return lost(ot.elementType, nt.elementType)
        if isinstance(ot, T.MapType) and isinstance(nt, T.MapType):
            return lost(ot.valueType, nt.valueType)
        return False

    nfields = {f.name: f.dataType for f in new.base_schema.fields}
    return [
        f.name
        for f in old.base_schema.fields
        if f.name in nfields and lost(f.dataType, nfields[f.name])
    ]


def replicate_with_schema_evolution(
    spark: SparkSession,
    source_dir: str,
    base_desc: CdcTableDescriptor,
    work_dir: str,
    mode: str = "delta",
    confidence_ms: int = 0,
    max_rounds: int = 8,
) -> tuple[DataFrame, CdcTableDescriptor]:
    """Replicate everything currently in ``source_dir``, evolving the
    schema as ALTERs appear — the user never rebuilds a descriptor.

    Each round: infer the current descriptor from the merged footers of
    every not-yet-processed file plus the newest one (so a pending file
    is never read under a schema narrower than its own — see
    ``pending_log_schema``), run the AvailableNow replication pass under
    it (the shared checkpoint makes re-runs incremental), record the
    consumed files, then rescan — if files with a different signature
    arrived mid-pass, roll onto the evolved schema and go again. Returns
    ``(state, descriptor)`` for the final schema.
    """
    # resume from the persisted schema cache when present: the state table
    # stays interpretable even if pre-evolution log files were archived
    os.makedirs(work_dir, exist_ok=True)
    desc_path = os.path.join(work_dir, "descriptor.json")
    desc = load_descriptor(desc_path) or base_desc
    if desc is not base_desc:
        descriptor_diff(base_desc, desc)  # stored schema must share the pk
    # processed-file record (mirror of the source's offset log, kept next
    # to the descriptor cache): files consumed by earlier passes no longer
    # widen the pending-schema merge, which is what lets ALTER DROP land
    proc_path = os.path.join(work_dir, "processed_files.json")
    processed: set[str] = set()
    if os.path.exists(proc_path):
        with open(proc_path) as fh:
            processed = set(json.load(fh))
    state: DataFrame | None = None
    for _ in range(max_rounds):
        observed, listed = pending_log_schema(spark, source_dir, processed)
        destructive = False
        if observed is not None:
            evolved = descriptor_from_log_schema(observed, desc)
            # descriptor_diff also validates the pk is untouched
            _, dropped = descriptor_diff(desc, evolved)
            destructive = bool(dropped or _lost_nested_fields(desc, evolved))
            desc = evolved
        run = _Replication(
            spark, desc, source_dir, build_cdc_log_schema(desc), work_dir,
            mode, confidence_ms,
        )
        if destructive:
            # a destructive ALTER (DROP column, or ALTER TYPE that removes
            # a UDT field) must discard the data PHYSICALLY (as Scylla
            # does): copy-on-write keeps stale values in untouched bucket
            # files, and a later re-ADD of the same name would read them
            # back (AlterReAddColIT / AlterUpdateUdtIT semantics — re-added
            # names start NULL, never resurrect).
            run.sink.conform_snapshot(spark)
        save_descriptor(desc, desc_path)
        state = run.catch_up()
        # the AvailableNow pass consumed (at least) the files listed
        # before it started; record exactly those — a file that landed
        # mid-pass stays pending and contributes to the next merge
        processed |= set(listed)
        commit_json(proc_path, sorted(processed))
        after, _ = pending_log_schema(spark, source_dir, processed)
        if after is None:
            return state, desc
        next_desc = descriptor_from_log_schema(after, desc)
        if (
            next_desc.base_schema == desc.base_schema
            and next_desc.non_frozen_collections == desc.non_frozen_collections
        ):
            # no ALTER landed while we were replicating — converged
            return state, desc
    return state, desc
