"""Streaming CDC consumer — the reference pipeline on Structured Streaming.

Mapping (SURVEY.md §2.9 / §3.1):

* T1 tumbling query window  → microbatch trigger; ``window()`` aggregation
  for windowed analytics (reference TaskState.moveToNextWindow,
  scylla-cdc-base/.../model/worker/TaskState.java:57-59).
* T2 confidence window      → ``withWatermark`` on the decoded event time
  (reference ReadNewWindowTaskAction.waitForWindow, TaskAction.java:82-91;
  default 30 s, WorkerConfiguration.java:15).
* T3 throttle               → ``maxFilesPerTrigger`` / trigger interval
  (reference minimalWaitForWindowMs, WorkerConfiguration.java:16).
* T4 per-change checkpoint  → checkpointLocation offset+commit logs
  (reference WorkerTransport/CDCStateStore; at-least-once either way).
* T5 retry state machine    → Spark task retry + source replay (built-in).
* T6/T7 generation rollover → file-source *partition discovery*: each
  generation is a ``generation=<id>`` directory; new directories appear as
  new input without replanning (reference
  GenerationBasedCDCMetadataModel.runMasterLoop,
  GenerationBasedCDCMetadataModel.java:118-141).
* T10 graceful stop         → ``StreamingQuery.stop()`` + awaitTermination
  (reference Worker.performActionsUntilStopRequested, Worker.java:132-151).
* P2 dedup/resume           → an idempotent sink, as the reference's
  ``USING TIMESTAMP`` writes are (ExecutingPreparedStatementHandler.java:
  45-53): the replicator keeps row versions and row tombstones, so a
  redelivered change converges without stream state. Changes older than
  the confidence window are dropped by the sink's horizon, as the
  watermark dropped late rows. ``dedup_within_watermark`` still composes
  onto ``changes()`` for other consumers (reference
  Driver3WorkerCQL.java:162-173).
* K1 user consumer callback → ``foreachBatch`` (the batch is the Spark-native
  granularity; per-row callbacks would serialize the stream through Python).

Scale posture: the source parallelism is file-split based and the change
stream itself keeps no state, so adaptive execution plans each
micro-batch. Stateful operators composed downstream (dedup, windows)
shuffle on their keys exactly once, and the confidence watermark bounds
their state to O(streams x watermark), not O(history).
"""

from __future__ import annotations

import logging
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import CHANGE_ID_COLS
from ..operators.normalize import TIME_TS, normalize_changes

log = logging.getLogger(__name__)


def with_confidence_window(df: DataFrame, confidence_ms: int = 30_000) -> DataFrame:
    """T2: treat events newer than ``max(event_time) - confidence`` as not
    yet safe — expressed as the stream's watermark, which also bounds all
    downstream state."""
    df = normalize_changes(df)
    # backticks: withWatermark parses the name and cdc$* needs quoting
    return df.withWatermark(f"`{TIME_TS}`", f"{confidence_ms / 1000.0} seconds")


def dedup_within_watermark(df: DataFrame) -> DataFrame:
    """P2 on a stream: drop at-least-once redeliveries of the same ChangeId
    arriving within the confidence window.

    Keyed on the derived ``cdc$time_ts`` (always present post-
    ``with_confidence_window``), NEVER the raw ``cdc$time`` string: a
    stream read under the descriptor's wire schema null-fills envelope
    columns its files lack, and an all-NULL time key would collapse every
    change in a stream sharing a ``batch_seq_no`` (see
    ``operators.dedup.dedup_changes``). Matches the fold kernel's
    (time, seq) ChangeId identity."""
    return df.dropDuplicatesWithinWatermark(
        [TIME_TS if c == "cdc$time" else c for c in CHANGE_ID_COLS]
    )


def tumbling_window_counts(
    df: DataFrame, window_ms: int = 30_000, extra_keys: list[str] | None = None
) -> DataFrame:
    """T1 as a streaming aggregation: per-window (x key) change counts."""
    df = normalize_changes(df)
    keys = [F.window(F.col(TIME_TS), f"{window_ms / 1000.0} seconds").alias("win")]
    keys += [F.col(k) for k in (extra_keys or [])]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_changes"))


def session_window_counts(
    df: DataFrame, gap_ms: int = 30_000, keys: list[str] | None = None
) -> DataFrame:
    """Gap-based session windows on the change stream (the streaming
    counterpart of ``pipeline.sessions.sessionize``): windows extend while
    changes keep arriving within ``gap_ms`` of the previous one and close
    at the watermark — burst detection / per-key activity episodes over
    CDC traffic. State is bounded by the stream's watermark (set one
    upstream via ``with_confidence_window``).

    Sessions are keyed (Spark rejects a globally-keyed streaming session
    window); default key is the CDC stream id — activity episodes per
    vnode stream."""
    df = normalize_changes(df)
    grp = [
        F.session_window(F.col(TIME_TS), f"{gap_ms / 1000.0} seconds").alias("win")
    ]
    grp += [F.col(k) for k in (keys if keys is not None else ["cdc$stream_id"])]
    return df.groupBy(*grp).agg(F.count(F.lit(1)).alias("n_changes"))


@dataclass
class CDCStreamConsumer:
    """Facade mirroring the reference's ``CDCConsumer.builder()`` surface
    (scylla-cdc-lib/.../CDCConsumer.java:94-313) with the Spark-native
    equivalents of its knobs.

    Usage::

        consumer = (CDCStreamConsumer(spark)
                    .with_source(source_dir, schema)
                    .with_confidence_window_ms(30_000)
                    .with_checkpoint(ckpt_dir))
        query = consumer.start(lambda batch_df, batch_id: ...)
        ...
        consumer.stop(query)          # T10

    The change stream is stateless: cross-batch redelivery (P2) is the
    sink's concern, and the replicator sink is idempotent (row versions and
    row tombstones in its state, a horizon of one confidence window). A
    checkpoint written while the stream still ran the stateful
    ``dropDuplicatesWithinWatermark`` holds that operator's state under
    ``state/``; Spark refuses to restart a stateless query on it, so
    ``start`` deletes that directory, which holds nothing else.
    """

    spark: SparkSession
    source_dir: str | None = None
    schema: T.StructType | None = None
    confidence_ms: int = 30_000
    max_files_per_trigger: int | None = None
    checkpoint_dir: str | None = None
    available_now: bool = False
    trigger_interval: str | None = None

    def with_source(self, source_dir: str, schema: T.StructType) -> "CDCStreamConsumer":
        self.source_dir, self.schema = source_dir, schema
        return self

    def with_confidence_window_ms(self, ms: int) -> "CDCStreamConsumer":
        self.confidence_ms = ms
        return self

    def with_throttle(self, max_files_per_trigger: int) -> "CDCStreamConsumer":
        self.max_files_per_trigger = max_files_per_trigger
        return self

    def with_checkpoint(self, path: str) -> "CDCStreamConsumer":
        self.checkpoint_dir = path
        return self

    def trigger_available_now(self) -> "CDCStreamConsumer":
        self.available_now = True
        return self

    def with_trigger_interval(self, interval: str) -> "CDCStreamConsumer":
        self.trigger_interval = interval
        return self

    def changes(self) -> DataFrame:
        """The normalized, watermarked change stream (no stateful operator).

        The source is a file stream over CDC-shaped parquet: ``source_dir``
        may contain ``generation=<id>`` partition directories, which
        partition discovery surfaces as a ``generation`` column, picking up
        new generations as their files arrive (T6/T7)."""
        if self.source_dir is None or self.schema is None:
            raise ValueError("source not configured: call with_source(dir, schema)")
        reader = self.spark.readStream.schema(self.schema).format("parquet")
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return with_confidence_window(reader.load(self.source_dir), self.confidence_ms)

    def _launch(self, writer):
        """Apply the checkpoint and trigger settings, then start."""
        if self.checkpoint_dir:
            # the retired dedup operator's state (see the class docstring)
            shutil.rmtree(os.path.join(self.checkpoint_dir, "state"), ignore_errors=True)
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        if self.available_now:
            writer = writer.trigger(availableNow=True)
        elif self.trigger_interval:
            writer = writer.trigger(processingTime=self.trigger_interval)
        return writer.start()

    def start(self, consume_batch, query_name: str = "cdc-consumer"):
        """K1: start the stream, delivering each microbatch to
        ``consume_batch(batch_df, batch_id)``. Returns the StreamingQuery."""
        return self._launch(
            self.changes().writeStream.queryName(query_name).foreachBatch(consume_batch)
        )

    def start_printer(self, query_name: str = "cdc-printer", num_rows: int = 20):
        """K2: the reference's Printer demo — formatted change stream to
        stdout (Main.printChange, scylla-cdc-printer/.../Main.java:97-151)."""
        return self._launch(
            self.changes()
            .writeStream.queryName(query_name)
            .format("console")
            .option("numRows", num_rows)
            .option("truncate", "true")
        )

    @staticmethod
    def stop(query, timeout_s: float = 60.0) -> None:
        """T10 graceful stop: request stop, then drain."""
        query.stop()
        query.awaitTermination(timeout_s)


def run_with_retries(start_query, backoff=None, max_restarts: int | None = None):
    """T5: the retry state machine around a streaming query.

    The reference reroutes any task failure to a fresh ReadNewWindow action
    after exponential backoff with jitter (TaskAction.java:35-204, F7);
    Spark's checkpoint gives the same window-restart semantics — restarting
    the query replays the failed microbatch from the committed offsets.

    ``start_query`` builds and starts a fresh query; exceptions from
    ``awaitTermination`` trigger a backoff + restart, ``max_restarts``
    bounds the attempts (None = retry forever, like the reference master).
    Each failure is logged with its attempt number and traceback before
    the backoff. Returns the final (successfully terminated) query.
    """
    import time as _time

    from ..functions.retry import ExponentialRetryBackoffWithJitter

    backoff = backoff or ExponentialRetryBackoffWithJitter()
    attempt = 0
    while True:
        query = start_query()
        try:
            query.awaitTermination()
            return query
        except Exception:  # noqa: BLE001 — any stream failure is retryable
            attempt += 1
            log.warning("stream failed (attempt %d)", attempt, exc_info=True)
            if max_restarts is not None and attempt > max_restarts:
                raise
            _time.sleep(backoff.backoff_ms(attempt) / 1000.0)
