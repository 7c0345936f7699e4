"""Structured Streaming surface — the reference's consumer pipeline (§2.9).

The reference is a streaming CDC consumer; this package is its idiomatic
Spark expression: file-stream source over CDC-shaped parquet, watermark as
the confidence window, ``foreachBatch`` + the apply kernel as an idempotent
replicator sink (row versions and row tombstones in its state, so the
stream needs no stateful dedup), and the checkpointLocation as the
CDCStateStore.

``replicate_available_now``, ``MultiTableConsumer`` and
``replicate_with_schema_evolution`` share one consumer -> sink runner
(``replicator._Replication``): one work-dir layout (``<work>/state``,
``<work>/checkpoint``) and one materialized-state rule (the version
column ``cdc$time_micros`` dropped; an empty base-schema frame before the
first commit).

Cross-batch pairing has no operator of its own: a range delete's left
bound that waits for its right bound in a later micro-batch is a row of
the sink's committed state (the reference's ``RangeDeleteState``,
RangeDeleteState.java:8-38), and the apply kernel pairs it when the right
bound arrives. A post-image (R8) is applied as a full-row image without
its delta row, so it needs no pairing.
"""

from .consumer import (  # noqa: F401
    CDCStreamConsumer,
    dedup_within_watermark,
    run_with_retries,
    tumbling_window_counts,
    with_confidence_window,
)
from .replicator import ReplicatorSink, replicate_available_now  # noqa: F401
from .evolution import (  # noqa: F401
    conform_changes,
    descriptor_from_log_schema,
    replicate_with_schema_evolution,
)
from .multi import MultiTableConsumer  # noqa: F401
