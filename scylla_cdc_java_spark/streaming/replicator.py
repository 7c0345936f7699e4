"""Replicator sink (K3): apply CDC changes to a materialized state table.

The reference's replicator turns every change into an idempotent CQL write
against a destination cluster (ReplicatorConsumer.java:110-124). Here the
destination is a **copy-on-write bucketed parquet table** driven from
``foreachBatch``:

* a state row is a base-table row plus its version ``cdc$time_micros``
  and the seed-op column (``apply.state_schema``, ``__seed_op`` unless a
  base column starts with ``__``): 9 for a row with its row marker, 10
  for one without (written by updates only), 5 or 6 for a CQL partition's
  open left range bound (clustering prefix, its own ``cdc$time_micros``,
  no regular value), held until the right bound arrives in a later batch,
  as the reference's ``RangeDeleteState`` holds it
  (RangeDeleteState.java:8-38). A bucket file written before the column
  existed reads it as NULL: a row with its marker. ``current_state`` leaves
  out open bounds and the column;
* state rows are hash-bucketed on the partition key (``xxhash64 % n``);
* a microbatch reads the current files of the buckets it touches (under
  the descriptor's state schema, so no footer-merge job runs), folds the
  changes on top with the apply kernel (seeded with the per-row version
  column, so replays converge), and writes the result as a new bucket
  directory;
* every bucket write goes through ``_write_buckets``, which first
  repartitions on the bucket column: each bucket's rows sit in exactly one
  writer task, so a version directory holds one parquet file per rewritten
  bucket and the live snapshot one file per live bucket (the apply's output
  is hash-partitioned on the key, so every writer task would otherwise
  write a file into nearly every bucket). The price is one extra shuffle of
  the rewritten state; the writer tasks still run in parallel
  (``spark.sql.shuffle.partitions`` of them);
* a JSON manifest per version maps bucket -> data directory and records
  ``n``, each live bucket's data bytes, the stream's query id and the
  ``batch_id`` it commits, the newest ``cdc$time`` committed so far (the
  consumer lag is now minus that time, ``_Replication.lag``) and the batch's
  ``metrics`` (rows in, buckets touched and written, bytes written, write
  and call wall ms); unchanged buckets keep pointing at their old files
  (no rewrite);
* the manifest commit is a write-temp-then-rename, and the streaming
  checkpoint (T4) retries each batch until Spark commits it. A crash
  between the manifest commit and the checkpoint commit replays the batch:
  the sink finds its ``(query id, batch_id)`` already committed and writes no
  bucket — the idempotent-sink contract of Structured Streaming. Outside a
  stream (no query id) every call applies; application is row-LWW, so a
  repeat converges anyway.

**Spark jobs per trigger.** One, wherever the read set follows from the
manifest alone: at one bucket (every state below ``2T``) it is the one
live bucket, and on a trigger that moves ``n`` it is every live bucket.
The write job then evaluates the micro-batch plan — the stateful
``dropDuplicatesWithinWatermark`` included — exactly once, and an
``Observation`` on the batch counts its rows and takes its newest
``cdc$time`` inside that job. Only a stable many-bucket state (``n > 1``,
unchanged) runs a pre-pass: ``distinct(bucket).collect()`` finds the
changed buckets, so the read set depends on the batch, and the batch is
evaluated twice. A broadcast semi-join of the state on the batch's bucket
set was tried in place of the collect and still evaluated the batch
twice; merge-on-read deltas (no state read at all) are the way to one
pass at any bucket count.

**Driver work per trigger.** Around that job the driver reads and commits
the manifest, lists the new version directory, and builds the plans: the
batch observation, the state read, the apply and the bucket write. Each
is built from SQL strings in a fixed number of Dataset calls (the apply's
are described in ``operators/apply.py``): a one-bucket call makes ~115
py4j round trips on the 3-column ``user_state`` table and ~150 on an
11-column one, where a Column-built apply plan made it ~1,250 and ~3,300
and cost 0.2–0.4 s of driver time per trigger (PySpark 4.1.2). The
partition column of a bucket write is ``__bucket`` unless a state column
starts with ``__`` (then it gets more leading underscores), so it never
overwrites a base column.

Three constraints shape the body. Spark commits a stateful operator's
store only when the batch is evaluated, and Spark 4.1 fails the query
when a batch ends with its stores uncommitted — so every call evaluates
the batch once, even a replay (through the ``noop`` writer). A no-data
batch (the stream runs one when the watermark moves) is only known empty
once the write job has run: at one bucket it reads and rewrites the state
and then deletes its ``v<N>`` directory without committing a manifest;
in the pre-pass case it stops after the pre-pass. And a bucket file
written before an ALTER reads under the current schema: an added column
or UDT field reads NULL, a dropped one is not read (``conform_snapshot``
covers the re-ADD of a dropped name).

**Bucket count.** ``n`` follows the committed state, not an option: it is
a power of two kept so that ``state_bytes / n`` stays in ``[T/2, 2T]``,
where ``T`` is ``_TARGET_BUCKET_BYTES`` (4 MiB, Spark's default
``spark.sql.files.openCostInBytes``: its own estimate, in scanned bytes,
of what opening one file costs) and ``state_bytes`` the sum of the live
bucket files' sizes that the manifest recorded. An empty state starts at
``n = 1``. When the band moves ``n`` — or the manifest predates the rule
and records no ``n`` — that trigger reads every live bucket and rewrites
the whole state at the new ``n``, which lands ``state_bytes / n`` within
a factor of √2 of ``T``; the band is 4× wide, so a state hovering at an
edge does not re-bucket on consecutive triggers.

The trade is a per-file cost against the rewrite unit. Every rewritten
bucket is one more file to write and list: 1,500 state rows take 1.0–1.2 s
to write as 64 bucket files and 0.16–0.23 s as one file (4-core box). And a
batch's keys hash uniformly, so a batch touching ``k`` keys rewrites about
``n * (1 - (1 - 1/n)^k)`` buckets: small live-tail batches spread over
nearly every bucket of a many-bucket state anyway. So a state below ~2T
keeps one bucket and a trigger writes one file — the measured side of the
rule. The many-bucket side is not measured: ``T`` comes from Spark's
scan-planning estimate, not from a run of this sink over a large state, and
no benchmark workload reaches ``2T``. There a large state keeps bucket
files near ``T`` and a batch with few distinct keys against ``n`` rewrites
only their buckets — work per batch O(changed buckets), not O(state).

Known limits. The rule reads the size committed *before* the batch, so a
first trigger into an empty state writes the whole batch as one bucket —
one writer task, one file — and the next trigger splits it (the
``foreachBatch`` frame is RDD-backed: ``inputFiles()`` is empty, so the
sink cannot size the first write from its input). The apply before that
write still runs on every core. Measured on a 4-core box, a 2.4M-row first
batch (a 30 MB state) took 26–30 s at one bucket (two runs): the fold,
not the one writer task, bounds the backfill there; on a many-core cluster
the single writer may dominate (unmeasured). And ``T`` must stay well above one
parquet file's fixed overhead (~1.5 KB for a narrow table), or the footers
alone keep the buckets of a many-key state above ``2T`` and each trigger
re-buckets.

This is the poor-man's MERGE of a transactional table format: on a real
deployment the same ``foreachBatch`` body becomes a Delta/Iceberg
``MERGE INTO`` keyed on the partition key. Reading the changed buckets
passes one path per bucket to the file index, and a trigger reads tens of
new source files; ``session.get_spark`` raises the parallel-listing
threshold so both are listed in the driver rather than by a
one-task-per-path Spark job on every trigger.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..model.schema import CdcTableDescriptor
from ..model.statestore import commit_json
from ..operators.apply import (
    apply_cdc_log,
    internal_prefix,
    sql_ident,
    state_rows,
    state_schema,
)
from ..operators.normalize import TIME_MICROS, normalize_changes
from .consumer import CDCStreamConsumer

# a committed manifest; a torn commit leaves ``manifest-N.json.tmp-*``
_MANIFEST = re.compile(r"manifest-(\d+)\.json")
# T, the target bytes per bucket (see the module docstring)
_TARGET_BUCKET_BYTES = 4 << 20
# the state before the first commit: no buckets, written into one
_EMPTY = {"version": -1, "buckets": {}, "n_buckets": 1, "bucket_bytes": {}}


def _bucket_expr(pk_cols: list[str], n: int):
    keys = ", ".join(sql_ident(c) for c in pk_cols)
    return F.expr(f"CAST(pmod(xxhash64({keys}), {n}) AS INT)")


_BATCH_STATS = ("count(1)", f"max({sql_ident(TIME_MICROS)})")


def _observed(seen: Observation, changes: DataFrame) -> tuple[int, int | None]:
    """The batch's (row count, newest ``cdc$time_micros``) from the write
    job. Adaptive execution (on when the sink is called outside a stream)
    prunes the observed node from a plan whose write input turns out
    empty — an empty batch, or one that deleted every row it read — and
    the observation then completes with an empty row, which
    ``Observation.get`` cannot convert: only then are the unobserved
    ``changes`` counted by a job of their own."""
    row = seen._jo.getRow()
    if row.length():
        return row.get(0), row.get(1)
    return tuple(changes.selectExpr(*_BATCH_STATS).first())


def _data_bytes(bucket_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(bucket_dir, f))
        for f in os.listdir(bucket_dir)
        if f.startswith("part-")
    )


class ReplicatorSink:
    """Callable ``foreachBatch`` body: ``sink(batch_df, batch_id)``."""

    def __init__(self, desc: CdcTableDescriptor, state_dir: str, mode: str = "delta"):
        self.desc = desc
        self.state_dir = state_dir
        self.mode = mode
        # the partition column of a bucket write: ``__bucket`` unless the
        # state has a column that name would shadow
        names = [*desc.base_schema.names, TIME_MICROS]
        self._bucket_col = internal_prefix(names) + "bucket"
        os.makedirs(state_dir, exist_ok=True)

    @property
    def n_buckets(self) -> int | None:
        """Bucket count of the latest committed version (1 before the first
        commit, None for a manifest from before the sizing rule)."""
        return (self._latest_manifest() or _EMPTY).get("n_buckets")

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest_versions(self) -> list[int]:
        """Committed manifest versions, ascending."""
        return sorted(
            int(m.group(1))
            for f in os.listdir(self.state_dir)
            if (m := _MANIFEST.fullmatch(f))
        )

    def _latest_manifest(self) -> dict | None:
        versions = self._manifest_versions()
        if not versions:
            return None
        with open(os.path.join(self.state_dir, f"manifest-{max(versions)}.json")) as fh:
            return json.load(fh)

    def _commit_manifest(
        self, version: int, n: int, buckets: dict[str, str], sizes: dict[str, int], **extra
    ) -> None:
        commit_json(
            os.path.join(self.state_dir, f"manifest-{version}.json"),
            {"version": version, "buckets": buckets, "n_buckets": n, "bucket_bytes": sizes,
             **extra},
        )

    def _bucket_count(self, manifest: dict) -> int:
        """The bucket count the next write uses: the manifest's ``n`` while
        ``state_bytes / n`` is in ``[T/2, 2T]`` (or below it at ``n == 1``),
        else the power of two nearest ``state_bytes / T``."""
        n = manifest.get("n_buckets")  # None: a manifest from before the rule
        sizes = manifest.get("bucket_bytes")
        if sizes is None:
            sizes = {
                b: _data_bytes(os.path.join(self.state_dir, rel))
                for b, rel in manifest["buckets"].items()
            }
        state_bytes = sum(sizes.values())
        t = _TARGET_BUCKET_BYTES
        if n is not None and state_bytes <= 2 * t * n and (n == 1 or 2 * state_bytes >= t * n):
            return n
        return 1 << max(0, round(math.log2(max(state_bytes, 1) / t)))

    def _write_buckets(
        self, state: DataFrame, version: int, n: int
    ) -> tuple[dict[str, str], dict[str, int]]:
        """Write ``state`` in ``n`` buckets as version ``version``, one
        parquet file per bucket; returns the manifest entries (bucket ->
        directory, bucket -> data bytes) of the buckets written (a bucket
        with no rows gets no directory)."""
        col = self._bucket_col
        rel = f"v{version}"
        out_dir = os.path.join(self.state_dir, rel)
        (
            state.withColumn(col, _bucket_expr(self.desc.partition_keys, n))
            .repartition(col)
            .write.partitionBy(col)
            .mode("overwrite")
            .parquet(out_dir)
        )
        buckets = {
            d.split("=", 1)[1]: f"{rel}/{d}"
            for d in os.listdir(out_dir)
            if d.startswith(f"{col}=")
        }
        sizes = {b: _data_bytes(os.path.join(self.state_dir, d)) for b, d in buckets.items()}
        return buckets, sizes

    def _read_buckets(self, spark: SparkSession, manifest: dict, buckets) -> DataFrame | None:
        """The given buckets' rows, open bounds included, read under the
        descriptor's state schema (base schema + ``cdc$time_micros`` + the
        seed-op column): a column or UDT field that a bucket file written
        before an ALTER ADD lacks reads NULL (so does the seed-op column of
        a file written before it existed), one an ALTER DROP removed is not
        read, and no footer-merge job runs."""
        paths = [
            os.path.join(self.state_dir, manifest["buckets"][b])
            for b in buckets
            if b in manifest["buckets"]
        ]
        if not paths:
            return None
        return spark.read.schema(state_schema(self.desc)).parquet(*paths)

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed state across all buckets (version col
        included), under the current descriptor's schema: its rows, without
        the open range bounds and the seed-op column."""
        state = self._committed_state(spark)
        return None if state is None else state_rows(state, self.desc)

    def _committed_state(self, spark: SparkSession) -> DataFrame | None:
        """Every row of the latest committed version, open bounds included."""
        manifest = self._latest_manifest()
        if manifest is None:
            return None
        return self._read_buckets(spark, manifest, manifest["buckets"])

    def conform_snapshot(self, spark: SparkSession) -> bool:
        """Physically rewrite the persisted state snapshot conformed to
        the CURRENT descriptor (one full rewrite committed as a new
        manifest version) — dropped columns disappear from disk and
        narrowed UDT structs shed their removed fields.

        Copy-on-write sheds dropped data only LOGICALLY: untouched bucket
        files keep the stale values (whole columns or nested struct
        fields) on disk, and if an ALTER later re-ADDs the same name, the
        read under the descriptor's schema would find those stale values
        again by name — the resurrection the reference's AlterReAddColIT /
        AlterUpdateUdtIT semantics forbid (ScyllaDB's own ALTER DROP
        discards the data physically). ALTERs are rare; one state rewrite
        per destructive ALTER is the honest cost. Returns False when
        there is no committed state. Never run concurrently with the
        streaming writer (same rule as vacuum)."""
        state = self._committed_state(spark)
        if state is None:
            return False
        manifest = self._latest_manifest()
        n = self._bucket_count(manifest)
        version = manifest["version"] + 1
        # the rewrite holds the same batches and changes as before it
        carried = ("query_id", "batch_id", "max_time_micros")
        self._commit_manifest(
            version, n, *self._write_buckets(state, version, n),
            **{k: manifest[k] for k in carried if k in manifest},
        )
        return True

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Drop version directories no manifest among the newest
        ``keep_versions`` references, plus superseded manifests and the temp
        files of torn manifest commits. Returns the removed paths. Run
        out-of-band (like Delta VACUUM) — never concurrently with a writer."""
        versions = self._manifest_versions()
        if not versions:
            return []
        kept = versions[-keep_versions:]
        live_dirs: set[str] = set()
        for v in kept:
            with open(os.path.join(self.state_dir, f"manifest-{v}.json")) as fh:
                m = json.load(fh)
            live_dirs.update(rel.split("/", 1)[0] for rel in m["buckets"].values())
        removed = []
        for entry in os.listdir(self.state_dir):
            path = os.path.join(self.state_dir, entry)
            if entry.startswith("v") and os.path.isdir(path) and entry not in live_dirs:
                shutil.rmtree(path)
                removed.append(path)
            elif entry.startswith("manifest-"):
                committed = _MANIFEST.fullmatch(entry)
                if committed is None or int(committed.group(1)) not in kept:
                    os.remove(path)
                    removed.append(path)
        return removed

    # -- the sink body --------------------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        start = time.time()
        spark = batch_df.sparkSession
        manifest = self._latest_manifest() or _EMPTY
        # the stream's persistent id: the same across restarts from one
        # checkpoint, None when the sink is called outside a stream
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if (
            query_id is not None
            and manifest.get("query_id") == query_id
            and manifest["batch_id"] >= batch_id
        ):
            # a replay of a committed batch: the state already holds it.
            # The batch is still evaluated once — the dedup state store
            # must commit this batch or the query fails
            batch_df.write.format("noop").mode("overwrite").save()
            return
        n = self._bucket_count(manifest)
        seen = Observation()
        changes = normalize_changes(batch_df)
        batch_df = changes.observe(seen, *[F.expr(e) for e in _BATCH_STATS])
        old = manifest["buckets"]
        if n > 1 and n == manifest.get("n_buckets"):
            # only here does the read set depend on the batch: one pass over
            # the pk-only projection yields the changed buckets (<= n ints)
            bucket = _bucket_expr(self.desc.partition_keys, n)
            touched = {str(r[0]) for r in batch_df.select(bucket).distinct().collect()}
            if not touched:
                return
        else:
            # one bucket, or a new bucket count that re-hashes every row:
            # read and rewrite every live bucket
            touched = set(old)

        new_state = apply_cdc_log(
            batch_df,
            self.desc,
            mode=self.mode,
            initial_state=self._read_buckets(spark, manifest, touched),
            with_version_col=True,
        )
        version = manifest["version"] + 1
        write_start = time.time()
        buckets, sizes = self._write_buckets(new_state, version, n)
        write_ms = round(1e3 * (time.time() - write_start))
        rows, max_time = _observed(seen, changes)
        if not rows:
            # a no-data batch (the watermark moved): keep the state as it is
            shutil.rmtree(os.path.join(self.state_dir, f"v{version}"))
            return
        metrics = {
            "rows_in": rows,
            "buckets_touched": len(touched),
            "buckets_written": len(buckets),
            "bytes_written": sum(sizes.values()),
            "write_ms": write_ms,
        }
        # a touched bucket missing from ``buckets`` had every row deleted
        # by this batch: its pointer is dropped
        for b in old.keys() - touched:
            buckets[b] = old[b]
            sizes[b] = manifest["bucket_bytes"][b]
        metrics["call_ms"] = round(1e3 * (time.time() - start))
        self._commit_manifest(
            version, n, buckets, sizes,
            query_id=query_id,
            batch_id=batch_id,
            max_time_micros=max(max_time, manifest.get("max_time_micros", max_time)),
            metrics=metrics,
        )


class _Replication:
    """The one consumer -> ``ReplicatorSink`` wiring of ``streaming/``
    (``replicate_available_now``, ``MultiTableConsumer``,
    ``replicate_with_schema_evolution``): one table's stream from
    ``source_dir`` into a work dir laid out as ``<work>/state`` (the sink's
    snapshot) and ``<work>/checkpoint`` (the stream's offsets). Callers pick
    the trigger on ``consumer``."""

    def __init__(
        self,
        spark: SparkSession,
        desc: CdcTableDescriptor,
        source_dir: str,
        schema,
        work_dir: str,
        mode: str,
        confidence_ms: int,
        max_files_per_trigger: int | None = None,
    ):
        self.sink = ReplicatorSink(desc, os.path.join(work_dir, "state"), mode=mode)
        self.consumer = CDCStreamConsumer(
            spark,
            source_dir,
            schema,
            confidence_ms,
            max_files_per_trigger,
            checkpoint_dir=os.path.join(work_dir, "checkpoint"),
        )

    def state(self) -> DataFrame:
        """The materialized state: the committed snapshot without its
        version column ``cdc$time_micros``, or an empty frame of the base
        schema when nothing is committed."""
        spark = self.consumer.spark
        state = self.sink.current_state(spark)
        if state is None:
            return spark.createDataFrame([], self.sink.desc.base_schema)
        return state.drop(TIME_MICROS)

    def lag(self, now_ms: float | None = None) -> dict | None:
        """Consumer lag against the confidence window: ``lag_ms`` (``now_ms``,
        default the wall clock, minus the newest committed ``cdc$time``),
        ``confidence_ms`` and whether the lag is ``within_confidence``; None
        before the first commit."""
        newest = (self.sink._latest_manifest() or _EMPTY).get("max_time_micros")
        if newest is None:
            return None
        lag_ms = (time.time() * 1e3 if now_ms is None else now_ms) - newest / 1e3
        c = self.consumer.confidence_ms
        return {"lag_ms": lag_ms, "confidence_ms": c, "within_confidence": lag_ms <= c}

    def catch_up(self) -> DataFrame:
        """One AvailableNow pass over everything in the source; returns
        the materialized state."""
        query = self.consumer.trigger_available_now().start(
            self.sink, query_name="cdc-replicator"
        )
        query.awaitTermination()
        return self.state()


def replicate_available_now(
    spark: SparkSession,
    source_dir: str,
    schema,
    desc: CdcTableDescriptor,
    work_dir: str,
    mode: str = "delta",
    confidence_ms: int = 0,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the full consumer→replicator pipeline over all currently
    available input (Trigger.AvailableNow), then return the materialized
    state (base-table schema, version column dropped)."""
    return _Replication(
        spark, desc, source_dir, schema, work_dir, mode, confidence_ms,
        max_files_per_trigger,
    ).catch_up()
