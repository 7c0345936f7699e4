"""Replicator sink (K3): apply CDC changes to a materialized state table.

The reference's replicator turns every change into an idempotent CQL write
against a destination cluster (ReplicatorConsumer.java:110-124). Here the
destination is a **copy-on-write bucketed parquet table** driven from
``foreachBatch``:

* state rows are hash-bucketed on the partition key (``xxhash64 % n``);
* each microbatch touches only the buckets its changes hash into: it reads
  those buckets' current files, folds the changes on top with the apply
  kernel (seeded with the per-row version column, so replays converge),
  and writes the result as a new bucket directory;
* every bucket write goes through ``_write_buckets``, which first
  repartitions on the bucket column: each bucket's rows sit in exactly one
  writer task, so a version directory holds one parquet file per rewritten
  bucket and the live snapshot one file per live bucket (the apply's output
  is hash-partitioned on the key, so every writer task would otherwise
  write a file into nearly every bucket). The price is one extra shuffle of
  the rewritten state; the writer tasks still run in parallel
  (``spark.sql.shuffle.partitions`` of them);
* a JSON manifest per version maps bucket -> data directory and records
  ``n`` and each live bucket's data bytes; unchanged buckets keep pointing
  at their old files (no rewrite);
* the manifest commit is a write-temp-then-rename, and the streaming
  checkpoint (T4) guarantees each batch is retried until committed —
  at-least-once end to end, convergent because application is row-LWW.

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
batch (a 26 MB state) took 27–37 s at one bucket and 28–30 s at the 8
buckets the next trigger moves it to (two runs each): the fold, not the one
writer task, bounds the backfill there; on a many-core cluster the single
writer may dominate (unmeasured). And ``T`` must stay well above one
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.schema import CdcTableDescriptor, conform_state
from ..model.statestore import commit_json
from ..operators.apply import apply_cdc_log
from ..operators.normalize import TIME_MICROS
from .consumer import CDCStreamConsumer

_BUCKET = "__bucket"
# a committed manifest; a torn commit leaves ``manifest-N.json.tmp-*``
_MANIFEST = re.compile(r"manifest-(\d+)\.json")
# T, the target bytes per bucket (see the module docstring)
_TARGET_BUCKET_BYTES = 4 << 20
# the state before the first commit: no buckets, written into one
_EMPTY = {"version": -1, "buckets": {}, "n_buckets": 1, "bucket_bytes": {}}


def _bucket_expr(pk_cols: list[str], n: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(n)).cast("int")


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
        self, version: int, n: int, buckets: dict[str, str], sizes: dict[str, int]
    ) -> None:
        commit_json(
            os.path.join(self.state_dir, f"manifest-{version}.json"),
            {"version": version, "buckets": buckets, "n_buckets": n, "bucket_bytes": sizes},
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
        pk = list(self.desc.partition_keys)
        rel = f"v{version}"
        out_dir = os.path.join(self.state_dir, rel)
        (
            state.withColumn(_BUCKET, _bucket_expr(pk, n))
            .repartition(_BUCKET)
            .write.partitionBy(_BUCKET)
            .mode("overwrite")
            .parquet(out_dir)
        )
        buckets = {
            d.split("=", 1)[1]: f"{rel}/{d}"
            for d in os.listdir(out_dir)
            if d.startswith(f"{_BUCKET}=")
        }
        sizes = {b: _data_bytes(os.path.join(self.state_dir, d)) for b, d in buckets.items()}
        return buckets, sizes

    def _read_buckets(self, spark: SparkSession, manifest: dict, buckets) -> DataFrame | None:
        paths = [
            os.path.join(self.state_dir, manifest["buckets"][b])
            for b in buckets
            if b in manifest["buckets"]
        ]
        if not paths:
            return None
        # buckets written before an ALTER lack added columns; merge the
        # file schemas so they surface as NULL instead of vanishing
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed state across all buckets (version col
        included), conformed to the current descriptor schema."""
        manifest = self._latest_manifest()
        if manifest is None:
            return None
        state = self._read_buckets(spark, manifest, manifest["buckets"])
        if state is None:
            return None
        return conform_state(state, self.desc, keep_extra=(TIME_MICROS, _BUCKET))

    def conform_snapshot(self, spark: SparkSession) -> bool:
        """Physically rewrite the persisted state snapshot conformed to
        the CURRENT descriptor (one full rewrite committed as a new
        manifest version) — dropped columns disappear from disk and
        narrowed UDT structs shed their removed fields.

        Copy-on-write sheds dropped data only LOGICALLY: untouched bucket
        files keep the stale values (whole columns or nested struct
        fields) on disk, and if an ALTER later re-ADDs the same name,
        ``mergeSchema`` + ``conform_state`` would read those stale values
        back — the resurrection the reference's AlterReAddColIT /
        AlterUpdateUdtIT semantics forbid (ScyllaDB's own ALTER DROP
        discards the data physically). ALTERs are rare; one state rewrite
        per destructive ALTER is the honest cost. Returns False when
        there is no committed state. Never run concurrently with the
        streaming writer (same rule as vacuum)."""
        state = self.current_state(spark)
        if state is None:
            return False
        manifest = self._latest_manifest()
        n = self._bucket_count(manifest)
        version = manifest["version"] + 1
        self._commit_manifest(version, n, *self._write_buckets(state, version, n))
        return True

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Drop version directories no manifest among the newest
        ``keep_versions`` references, plus superseded manifests and the temp
        files of torn manifest commits. Returns the removed paths. Run
        out-of-band (like Delta VACUUM) — never concurrently with a writer."""
        import shutil

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
        spark = batch_df.sparkSession
        pk = list(self.desc.partition_keys)
        manifest = self._latest_manifest() or _EMPTY
        n = self._bucket_count(manifest)
        batch_df = batch_df.withColumn(_BUCKET, _bucket_expr(pk, n))
        # One pass over the pk-only projection yields the changed-bucket set
        # (<= n ints — safe to collect) AND the emptiness check; no separate
        # take(1) pre-read of the source.
        changed = {str(r[0]) for r in batch_df.select(_BUCKET).distinct().collect()}
        if not changed:
            return
        old = manifest["buckets"]
        # a new bucket count re-hashes every row: read and rewrite them all
        touched = changed if n == manifest.get("n_buckets") else set(old)
        initial = self._read_buckets(spark, manifest, touched)
        if initial is not None:
            # schema evolution between restarts: state written under an
            # older descriptor gains NULLs for added columns and sheds
            # dropped ones before seeding the apply (ALTER ADD/DROP)
            initial = conform_state(initial, self.desc, keep_extra=(TIME_MICROS,))
            initial = initial.withColumn(_BUCKET, _bucket_expr(pk, n))

        new_state = apply_cdc_log(
            batch_df,
            self.desc,
            mode=self.mode,
            initial_state=initial,
            with_version_col=True,
        )

        version = manifest["version"] + 1
        buckets, sizes = self._write_buckets(new_state, version, n)
        # a touched bucket missing from ``buckets`` had every row deleted
        # by this batch: its pointer is dropped
        for b in old.keys() - touched:
            buckets[b] = old[b]
            sizes[b] = manifest["bucket_bytes"][b]
        self._commit_manifest(version, n, buckets, sizes)


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
        """The materialized state: the committed snapshot without the
        bookkeeping columns (exactly ``cdc$time_micros`` and ``__bucket``),
        or an empty frame of the base schema when nothing is committed."""
        spark = self.consumer.spark
        state = self.sink.current_state(spark)
        if state is None:
            return spark.createDataFrame([], self.sink.desc.base_schema)
        return state.drop(TIME_MICROS, _BUCKET)

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
