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
comfortably (e.g. 100 TB state / 65536 buckets ~ 1.6 GB).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.schema import CdcTableDescriptor, conform_state
from ..operators.apply import apply_cdc_log
from ..operators.normalize import TIME_MICROS

_BUCKET = "__bucket"


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
    def _latest_manifest(self) -> dict | None:
        versions = [
            int(f[len("manifest-") : -len(".json")])
            for f in os.listdir(self.state_dir)
            if f.startswith("manifest-") and f.endswith(".json")
        ]
        if not versions:
            return None
        with open(os.path.join(self.state_dir, f"manifest-{max(versions)}.json")) as fh:
            return json.load(fh)

    def _commit_manifest(self, manifest: dict) -> None:
        path = os.path.join(self.state_dir, f"manifest-{manifest['version']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, path)

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
        manifest = self._latest_manifest()
        if manifest is None:
            return False
        state = self._read_buckets(
            spark, manifest, [int(b) for b in manifest["buckets"]]
        )
        if state is None:
            return False
        out = conform_state(state, self.desc, keep_extra=(TIME_MICROS,))
        version = manifest["version"] + 1
        rel = f"v{version}"
        out_dir = os.path.join(self.state_dir, rel)
        # bucket files don't store the partition column; re-derive it
        out = out.withColumn(
            _BUCKET, _bucket_expr(list(self.desc.partition_keys), self.n_buckets)
        )
        out.write.partitionBy(_BUCKET).mode("overwrite").parquet(out_dir)
        written = {
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith(f"{_BUCKET}=")
        }
        buckets = {
            str(b): f"{rel}/{_BUCKET}={b}" for b in written
        }
        self._commit_manifest({"version": version, "buckets": buckets})
        return True

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Drop version directories no manifest among the newest
        ``keep_versions`` references, plus superseded manifests. Returns the
        removed paths. Run out-of-band (like Delta VACUUM) — never
        concurrently with a writer."""
        import shutil

        versions = sorted(
            int(f[len("manifest-") : -len(".json")])
            for f in os.listdir(self.state_dir)
            if f.startswith("manifest-") and f.endswith(".json")
        )
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
            elif entry.startswith("manifest-") and int(entry[9:-5]) not in kept:
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
        ).withColumn(_BUCKET, _bucket_expr(pk, self.n_buckets))

        version = manifest["version"] + 1
        rel = f"v{version}"
        out_dir = os.path.join(self.state_dir, rel)
        new_state.write.partitionBy(_BUCKET).mode("overwrite").parquet(out_dir)
        written = {
            int(d.split("=", 1)[1])
            for d in os.listdir(out_dir)
            if d.startswith(f"{_BUCKET}=")
        }
        buckets = dict(manifest["buckets"])
        for b in changed:
            if b in written:
                buckets[str(b)] = f"{rel}/{_BUCKET}={b}"
            else:
                # every row of the bucket was deleted by this batch
                buckets.pop(str(b), None)
        self._commit_manifest({"version": version, "buckets": buckets})


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
    from .consumer import CDCStreamConsumer

    state_dir = os.path.join(work_dir, "state")
    sink = ReplicatorSink(desc, state_dir, mode=mode, n_buckets=n_buckets)
    consumer = (
        CDCStreamConsumer(spark)
        .with_source(source_dir, schema)
        .with_confidence_window_ms(confidence_ms)
        .with_checkpoint(os.path.join(work_dir, "checkpoint"))
        .trigger_available_now()
    )
    if max_files_per_trigger is not None:
        consumer = consumer.with_throttle(max_files_per_trigger)
    query = consumer.start(sink, query_name="cdc-replicator")
    query.awaitTermination()
    state = sink.current_state(spark)
    if state is None:
        return spark.createDataFrame([], desc.base_schema)
    drop = [c for c in (TIME_MICROS, _BUCKET) if c in state.columns]
    return state.drop(*drop)
