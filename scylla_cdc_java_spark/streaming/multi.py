"""Multi-table CDC consumption under one lifecycle.

The reference's ``CDCConsumer.Builder`` accepts any number of tables
(``addTable``/``addTables``, CDCConsumer.java:141-151) and drives them
with one master/worker set; start/stop manage the whole group. The
Spark-native mapping runs ONE StreamingQuery per table — queries are the
unit Spark schedules and checkpoints — sharing a work root, with group
start / graceful-stop / await semantics matching the reference lifecycle
(CDCConsumer.start/stop, CDCConsumer.java:200-260).

Scale posture: per-table queries parallelize across the cluster's
scheduler pools independently; state and checkpoints are per table, so a
hot table cannot stall another's progress (the reference's per-task
isolation, worker/Task granularity).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..model.schema import CdcTableDescriptor, build_cdc_log_schema
from .consumer import CDCStreamConsumer
from .replicator import _Replication


@dataclass
class _TableSpec:
    name: str
    source_dir: str
    desc: CdcTableDescriptor
    schema: T.StructType


@dataclass
class MultiTableConsumer:
    """``CDCConsumer.Builder.addTables`` analog: replicate N tables under
    one start/stop lifecycle.

    Usage::

        group = (MultiTableConsumer(spark, work_root)
                 .add_table("t1", src1, desc1)
                 .add_table("t2", src2, desc2))
        states = group.replicate_available_now()     # batch catch-up
        # or: queries = group.start(); ...; group.stop(queries)
    """

    spark: SparkSession
    work_root: str
    confidence_ms: int = 0
    mode: str = "delta"
    _tables: list[_TableSpec] = field(default_factory=list)

    def add_table(
        self,
        name: str,
        source_dir: str,
        desc: CdcTableDescriptor,
        schema: T.StructType | None = None,
    ) -> "MultiTableConsumer":
        self._tables.append(
            _TableSpec(name, source_dir, desc, schema or build_cdc_log_schema(desc))
        )
        return self

    def add_tables(self, specs) -> "MultiTableConsumer":
        for name, source_dir, desc in specs:
            self.add_table(name, source_dir, desc)
        return self

    def _run(self, t: _TableSpec) -> _Replication:
        return _Replication(
            self.spark, t.desc, t.source_dir, t.schema,
            os.path.join(self.work_root, t.name),
            self.mode, self.confidence_ms,
        )

    def _validate_modes(self) -> None:
        """Reference Master.isTabletsBased (Master.java:46-65): refuse a
        table set mixing tablet-based and vnodes-based replication — the
        group has no coherent generation metadata model."""
        from ..model.generations import tablets_based

        tablets_based((t.name, t.desc.uses_tablets) for t in self._tables)

    def start(self, trigger_interval: str | None = None) -> dict:
        """Start every table's pipeline; returns {name: StreamingQuery}."""
        self._validate_modes()
        queries = {}
        for t in self._tables:
            run = self._run(t)
            if trigger_interval:
                run.consumer.with_trigger_interval(trigger_interval)
            queries[t.name] = run.consumer.start(run.sink, query_name=f"cdc-{t.name}")
        return queries

    @staticmethod
    def stop(queries: dict, timeout_s: float = 60.0) -> None:
        """Graceful group stop (reference CDCConsumer.stop): request stop on
        every query first, then await each."""
        for q in queries.values():
            q.stop()
        for q in queries.values():
            CDCStreamConsumer.stop(q, timeout_s=timeout_s)

    def replicate_available_now(self) -> dict[str, DataFrame]:
        """Catch-up pass over all tables (Trigger.AvailableNow each);
        returns {name: materialized state}. Every query starts before any
        is awaited, so they run concurrently — group wall-clock is the
        slowest table, not the sum."""
        self._validate_modes()
        runs = {t.name: self._run(t) for t in self._tables}
        queries = [
            run.consumer.trigger_available_now().start(run.sink, query_name=f"cdc-{name}")
            for name, run in runs.items()
        ]
        for q in queries:
            q.awaitTermination()
        return {name: run.state() for name, run in runs.items()}
