"""Structured Streaming surface — the reference's consumer pipeline (§2.9).

The reference is a streaming CDC consumer; this package is its idiomatic
Spark expression: file-stream source over CDC-shaped parquet, watermark as
the confidence window, ``dropDuplicatesWithinWatermark`` as the resume
filter (always on), ``foreachBatch`` + the apply kernel as the replicator
sink, and the checkpointLocation as the CDCStateStore.

``replicate_available_now``, ``MultiTableConsumer`` and
``replicate_with_schema_evolution`` share one consumer -> sink runner
(``replicator._Replication``): one work-dir layout (``<work>/state``,
``<work>/checkpoint``) and one materialized-state rule (the version
column ``cdc$time_micros`` dropped; an empty base-schema frame before the
first commit).
"""

from .consumer import (  # noqa: F401
    CDCStreamConsumer,
    dedup_within_watermark,
    run_with_retries,
    tumbling_window_counts,
    with_confidence_window,
)
from .pairing import (  # noqa: F401
    pair_postimages_stream,
    pair_range_deletes_stream,
)
from .replicator import ReplicatorSink, replicate_available_now  # noqa: F401
from .evolution import (  # noqa: F401
    conform_changes,
    descriptor_from_log_schema,
    replicate_with_schema_evolution,
)
from .multi import MultiTableConsumer  # noqa: F401
