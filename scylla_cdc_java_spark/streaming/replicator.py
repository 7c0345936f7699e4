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
* a JSON manifest per version maps bucket -> data directory; unchanged
  buckets keep pointing at their old files (no rewrite);
* the manifest commit is a write-temp-then-rename, and the streaming
  checkpoint (T4) guarantees each batch is retried until committed —
  at-least-once end to end, convergent because application is row-LWW.

This is the poor-man's MERGE of a transactional table format: on a real
deployment the same ``foreachBatch`` body becomes a Delta/Iceberg
``MERGE INTO`` keyed on the partition key. Scale posture: work per batch is
O(changed buckets), not O(state) — but a batch's keys hash uniformly, so a
batch touching k keys rewrites about ``n_buckets * (1 - (1 - 1/n)^k)``
buckets: small live-tail batches already spread over most of the default
64 buckets (``replicator.bucket_rewrite_share`` in the benchmark's
``tail_user`` trace), and the saving only shows when a batch's distinct
keys are few against ``n_buckets``. Bucket count bounds the smallest
rewrite unit, so set ``n_buckets`` so state/n_buckets fits an executor
comfortably (e.g. 100 TB state / 65536 buckets ~ 1.6 GB). Reading the
changed buckets passes one path per bucket to the file index, and a trigger
reads tens of new source files; ``session.get_spark`` raises the
parallel-listing threshold so both are listed in the driver rather than by
a one-task-per-path Spark job on every trigger.
"""

from __future__ import annotations

import json
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


def _bucket_expr(pk_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(n_buckets)).cast("int")


class ReplicatorSink:
    """Callable ``foreachBatch`` body: ``sink(batch_df, batch_id)``."""

    def __init__(
        self,
        desc: CdcTableDescriptor,
        state_dir: str,
        mode: str = "delta",
        n_buckets: int = 64,
    ):
        self.desc = desc
        self.state_dir = state_dir
        self.mode = mode
        self.n_buckets = n_buckets
        os.makedirs(state_dir, exist_ok=True)

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

    def _commit_manifest(self, manifest: dict) -> None:
        commit_json(
            os.path.join(self.state_dir, f"manifest-{manifest['version']}.json"),
            manifest,
        )

    def _write_buckets(self, state: DataFrame, version: int) -> dict[str, str]:
        """Write ``state`` bucketed as version ``version``, one parquet file
        per bucket; returns the manifest entries (bucket -> directory) of
        the buckets written (a bucket with no rows gets no directory)."""
        pk = list(self.desc.partition_keys)
        rel = f"v{version}"
        out_dir = os.path.join(self.state_dir, rel)
        (
            state.withColumn(_BUCKET, _bucket_expr(pk, self.n_buckets))
            .repartition(_BUCKET)
            .write.partitionBy(_BUCKET)
            .mode("overwrite")
            .parquet(out_dir)
        )
        return {
            d.split("=", 1)[1]: f"{rel}/{d}"
            for d in os.listdir(out_dir)
            if d.startswith(f"{_BUCKET}=")
        }

    def _read_buckets(self, spark: SparkSession, manifest: dict, buckets: list[int]) -> DataFrame | None:
        paths = [
            os.path.join(self.state_dir, manifest["buckets"][str(b)])
            for b in buckets
            if str(b) in manifest["buckets"]
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
        state = self._read_buckets(
            spark, manifest, [int(b) for b in manifest["buckets"]]
        )
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
        version = self._latest_manifest()["version"] + 1
        buckets = self._write_buckets(state, version)
        self._commit_manifest({"version": version, "buckets": buckets})
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
        batch_df = batch_df.withColumn(_BUCKET, _bucket_expr(pk, self.n_buckets))
        # One pass over the pk-only projection yields the changed-bucket set
        # (<= n_buckets ints — safe to collect) AND the emptiness check; no
        # separate take(1) pre-read of the source.
        changed = sorted(
            r[0] for r in batch_df.select(_BUCKET).distinct().collect()
        )
        if not changed:
            return
        manifest = self._latest_manifest() or {"version": -1, "buckets": {}}
        initial = self._read_buckets(spark, manifest, changed)
        if initial is not None:
            # schema evolution between restarts: state written under an
            # older descriptor gains NULLs for added columns and sheds
            # dropped ones before seeding the apply (ALTER ADD/DROP)
            initial = conform_state(initial, self.desc, keep_extra=(TIME_MICROS,))
            initial = initial.withColumn(_BUCKET, _bucket_expr(pk, self.n_buckets))

        new_state = apply_cdc_log(
            batch_df,
            self.desc,
            mode=self.mode,
            initial_state=initial,
            with_version_col=True,
        )

        version = manifest["version"] + 1
        written = self._write_buckets(new_state, version)
        # a changed bucket missing from ``written`` had every row deleted
        # by this batch: its pointer is dropped
        changed_keys = {str(b) for b in changed}
        buckets = {
            b: rel for b, rel in manifest["buckets"].items() if b not in changed_keys
        }
        buckets.update(written)
        self._commit_manifest({"version": version, "buckets": buckets})


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
        n_buckets: int,
        confidence_ms: int,
        max_files_per_trigger: int | None = None,
    ):
        self.sink = ReplicatorSink(
            desc, os.path.join(work_dir, "state"), mode=mode, n_buckets=n_buckets
        )
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
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the full consumer→replicator pipeline over all currently
    available input (Trigger.AvailableNow), then return the materialized
    state (base-table schema, version column dropped)."""
    return _Replication(
        spark, desc, source_dir, schema, work_dir, mode, n_buckets,
        confidence_ms, max_files_per_trigger,
    ).catch_up()
