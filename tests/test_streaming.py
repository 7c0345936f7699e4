"""End-to-end tests of the Structured Streaming consumer + replicator sink.

Mirrors the reference's replicator golden test (ReplicatorCorrectnessTestIT)
in streaming form: encode a DML script as CDC parquet files arriving over
several microbatches, run the consumer→replicator pipeline, and compare the
materialized state against the pure-Python DML replay — including restart
(second run over the same checkpoint/state) and at-least-once redelivery
across batches.
"""

from __future__ import annotations

import math
import os
import random
import time

import pytest

from scylla_cdc_java_spark.model.schema import build_cdc_log_schema
from scylla_cdc_java_spark.streaming import replicate_available_now
from scylla_cdc_java_spark.testing import CdcLogGenerator, FIXTURE_TABLES, replay_dml


def _canon(v):
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted((_canon(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # Row
        return tuple(_canon(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _write_chunks(spark, schema, rows, src_dir, n_chunks, rng, replay_frac=0.0):
    """Write CDC rows as n_chunks parquet appends (chunks in time order,
    shuffled within; later chunks optionally redeliver earlier rows)."""
    size = max(1, (len(rows) + n_chunks - 1) // n_chunks)
    seen: list[dict] = []
    for i in range(0, len(rows), size):
        chunk = [dict(r) for r in rows[i : i + size]]
        if seen and replay_frac:
            chunk += [dict(r) for r in seen if rng.random() < replay_frac]
        rng.shuffle(chunk)
        seen.extend(rows[i : i + size])
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(
            src_dir
        )


def _assert_state_matches(desc, state_df, dml):
    names = [f.name for f in desc.base_schema.fields]
    got = sorted(_canon(tuple(r[n] for n in names)) for r in state_df.collect())
    want = sorted(_canon(tuple(r[n] for n in names)) for r in replay_dml(desc, dml))
    assert got == want, f"{desc.name}: engine={got[:5]} oracle={want[:5]}"


def _rand_dml(desc, rng, n=60):
    n_ck = len(desc.clustering_keys)
    dml = []
    for _ in range(n):
        pk = ("p%d" % rng.randrange(3),)
        ck = tuple(rng.randrange(4) for _ in range(n_ck))
        roll = rng.random()
        if roll < 0.55:
            cells = {}
            for c in desc.regular_columns:
                tn = desc.base_field(c).dataType.typeName()
                if c in desc.list_columns:
                    cells[c] = rng.choice(
                        [{"overwrite": [rng.randrange(9) for _ in range(2)]},
                         {"add": [rng.randrange(9)]}]
                    )
                elif c in desc.non_frozen_collections and tn == "array":
                    cells[c] = rng.choice(
                        [{"overwrite": [rng.randrange(9) for _ in range(2)]},
                         {"add": [rng.randrange(9)]},
                         {"remove": [rng.randrange(9)]}]
                    )
                elif c in desc.non_frozen_collections and tn == "map":
                    cells[c] = rng.choice(
                        [{"overwrite": {rng.randrange(5): rng.randrange(9)}},
                         {"add": {rng.randrange(5): rng.randrange(9)}},
                         {"remove": [rng.randrange(5)]}]
                    )
                elif c in desc.non_frozen_collections and tn == "struct":
                    cells[c] = {"fields": {"a": rng.randrange(9), "b": rng.randrange(9)}}
                elif tn == "struct":  # frozen tuple: whole-value overwrite
                    fts = [f.dataType.typeName() for f in desc.base_field(c).dataType.fields]
                    cells[c] = rng.choice(
                        [
                            None,
                            tuple(
                                rng.randrange(9) if t != "string" else "t%d" % rng.randrange(9)
                                for t in fts
                            ),
                        ]
                    )
                elif tn == "binary":
                    cells[c] = rng.choice([None, bytearray(rng.randbytes(rng.randrange(0, 5)))])
                elif tn == "string":
                    cells[c] = rng.choice([None, "s%d" % rng.randrange(20)])
                else:
                    cells[c] = rng.choice([None, rng.randrange(100)])
            dml.append(("insert", pk, ck, cells))
        elif roll < 0.8:
            dml.append(("row_delete", pk, ck))
        elif roll < 0.9:
            dml.append(("partition_delete", pk))
        elif n_ck:
            lo = tuple(rng.randrange(0, 2) if i == 0 else None for i in range(n_ck))
            hi = tuple(rng.randrange(2, 4) if i == 0 else None for i in range(n_ck))
            dml.append(("range_delete", pk, (lo, True), (hi, False)))
    return dml


@pytest.mark.parametrize(
    "table",
    [
        # tbl_simple is the default-run representative of this matrix;
        # the other 7 schema shapes replay the SAME pipeline (their
        # batch-apply semantics are covered per-schema by the fast
        # test_apply fuzz) and run under SPARK_GRAFT_FULL_TESTS=1.
        "tbl_simple",
        pytest.param("tbl_multiple_clustering_keys", marks=pytest.mark.full),
        pytest.param("tbl_lists", marks=pytest.mark.full),
        pytest.param("tbl_maps", marks=pytest.mark.full),
        pytest.param("tbl_sets", marks=pytest.mark.full),
        pytest.param("tbl_udts", marks=pytest.mark.full),
        pytest.param("tbl_tuples", marks=pytest.mark.full),
        pytest.param("tbl_blobs", marks=pytest.mark.full),
    ],
)
def test_replicator_multibatch(spark, table, tmp_path, target_bucket_bytes):
    """Full pipeline over several microbatches, with cross-batch redelivery
    (the at-least-once path through the seeded incremental apply). A
    512-byte target bucket size re-buckets the small state and keeps it in
    several buckets, as a large state would be."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    target_bucket_bytes(512)
    desc = FIXTURE_TABLES[table]
    rng = random.Random(7)
    dml = _rand_dml(desc, rng)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    _write_chunks(spark, build_cdc_log_schema(desc), rows, src, 4, rng, replay_frac=0.15)
    state = replicate_available_now(
        spark,
        src,
        build_cdc_log_schema(desc),
        desc,
        str(tmp_path / "work"),
        confidence_ms=0,
        max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)
    assert ReplicatorSink(desc, str(tmp_path / "work" / "state")).n_buckets > 1


def test_multi_table_consumer_matches_single_table(spark, tmp_path):
    """One ``MultiTableConsumer`` pass over a ck-less table with a regular
    column named ``__note`` and a clustering-key table: each state equals
    the DML replay and, column for column, the single-table
    ``replicate_available_now`` result over the same input."""
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor
    from scylla_cdc_java_spark.streaming import MultiTableConsumer

    noted = CdcTableDescriptor(
        name="tbl_noted",
        base_schema=T.StructType(
            [T.StructField(n, t) for n, t in
             [("pk", T.StringType()), ("__note", T.StringType()), ("v", T.IntegerType())]]
        ),
        partition_keys=["pk"],
    )
    tables = {"noted": noted, "simple": FIXTURE_TABLES["tbl_simple"]}
    rng = random.Random(5)
    dml, specs = {}, []
    for name, desc in tables.items():
        dml[name] = _rand_dml(desc, rng, n=40)
        src = str(tmp_path / "src" / name)
        _write_chunks(spark, build_cdc_log_schema(desc),
                      CdcLogGenerator(desc).encode(dml[name]), src, 2, rng, replay_frac=0.2)
        specs.append((name, src, desc))

    states = (
        MultiTableConsumer(spark, str(tmp_path / "group"))
        .add_tables(specs)
        .replicate_available_now()
    )
    for name, src, desc in specs:
        single = replicate_available_now(
            spark, src, build_cdc_log_schema(desc), desc,
            str(tmp_path / "single" / name),
        )
        assert states[name].columns == single.columns == desc.base_schema.names
        _assert_state_matches(desc, states[name], dml[name])
        _assert_state_matches(desc, single, dml[name])


def test_printer_resumes_from_checkpoint(spark, tmp_path):
    """K2: the printer honours the checkpoint and trigger settings — an
    AvailableNow run prints both source files; a restart on the same
    checkpoint reads nothing."""
    from scylla_cdc_java_spark.streaming import CDCStreamConsumer

    desc = FIXTURE_TABLES["tbl_simple"]
    dml = [("insert", ("a",), (i,), {"v1": i, "v2": "x"}) for i in range(6)]
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 2, random.Random(1))
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 2

    def run():
        q = (
            CDCStreamConsumer(spark)
            .with_source(src, schema)
            .with_confidence_window_ms(0)
            .with_checkpoint(str(tmp_path / "ckpt"))
            .trigger_available_now()
            .start_printer()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run() == len(rows)
    assert run() == 0


# full: checkpoint-resume is also pinned by test_run_with_retries (kept)
# and the composed-stream lost-checkpoint contract test.
@pytest.mark.full
def test_replicator_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop after the first batch of files, restart over the same work dir:
    the second run must only apply the new files on top of the saved state
    and converge to the full-script oracle."""
    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(11)
    dml = _rand_dml(desc, rng, n=80)
    rows = CdcLogGenerator(desc).encode(dml)
    cut = len(rows) // 2
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    work = str(tmp_path / "work")

    _write_chunks(spark, schema, rows[:cut], src, 2, rng)
    replicate_available_now(spark, src, schema, desc, work)

    # second wave: new changes plus redeliveries of already-applied ones
    _write_chunks(spark, schema, rows[cut:], src, 2, rng)
    replayed = [dict(r) for r in rows[:cut] if rng.random() < 0.2]
    if replayed:
        spark.createDataFrame(replayed, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = replicate_available_now(spark, src, schema, desc, work)
    _assert_state_matches(desc, state, dml)


def test_streaming_window_counts_and_dedup(spark, tmp_path):
    """Watermarked tumbling-window aggregation (T1/T2) over
    ``dropDuplicatesWithinWatermark`` (P2) composed onto the consumer's
    stateless change stream, as a real stream: a last file far in the
    future closes every window of the log, and the windows count each
    change exactly once although the second file redelivers 30% of the
    first."""
    from scylla_cdc_java_spark.streaming import (
        CDCStreamConsumer,
        dedup_within_watermark,
        tumbling_window_counts,
    )

    desc = FIXTURE_TABLES["tbl_simple"]
    dml = [("insert", ("p%d" % (i % 3),), (i,), {"v1": i, "v2": "x"}) for i in range(30)]
    gen = CdcLogGenerator(desc)
    rows = [dict(r) for r in gen.encode(dml)]
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    rng = random.Random(3)
    _write_chunks(spark, schema, rows, src, 2, rng, replay_frac=0.3)
    gen._t += 600_000_000  # ten minutes on: the watermark passes every window
    flush = gen.encode([("insert", ("p0",), (99,), {"v1": 0})])[-1:]
    spark.createDataFrame(flush, schema).coalesce(1).write.mode("append").parquet(src)

    consumer = (
        CDCStreamConsumer(spark)
        .with_source(src, schema)
        .with_confidence_window_ms(1000)
        .with_checkpoint(str(tmp_path / "ckpt"))
        .trigger_available_now()
    )
    counts = tumbling_window_counts(dedup_within_watermark(consumer.changes()), window_ms=60_000)
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = spark.sql("select sum(n_changes) as n from win_counts").collect()[0]["n"]
    assert total == len(rows)


def _write_files(spark, schema, chunks, src):
    """One parquet file per chunk, with distinct mtimes, so a stream with
    ``maxFilesPerTrigger=1`` reads them one per micro-batch, in order."""
    os.makedirs(src)
    for chunk in chunks:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)


def test_range_delete_pairing_across_batches(spark, tmp_path):
    """J1 across micro-batches: each range delete's left bound lands in an
    earlier file, and so an earlier trigger, than its right bound. The sink
    keeps the open bound in its state until the right bound arrives, and
    the replicated state equals the DML replay."""
    desc = FIXTURE_TABLES["tbl_multiple_clustering_keys"]
    dml = [
        *[("insert", ("p",), (i, j), {"v": i * 10 + j}) for i in range(2) for j in range(2)],
        ("range_delete", ("p",), ((0, 0), True), ((1, None), False)),
        ("range_delete", ("q",), ((2, None), False), ((4, None), True)),
    ]
    rows = CdcLogGenerator(desc).encode(dml)
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    # the bounds are the last 4 rows: L1 R1 L2 R2
    _write_files(spark, schema, [rows[:-3], rows[-3:-1], rows[-1:]], src)
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"), max_files_per_trigger=1
    )
    _assert_state_matches(desc, state, dml)


# full: cross-batch pairing representative kept = range_delete variant;
# postimage semantics pinned by the j2/r8 oracle gates.
@pytest.mark.full
def test_postimage_pairing_across_batches(spark, tmp_path):
    """R8 across micro-batches: a postimage-mode replication whose delta
    rows and post-images land in different files, one per trigger, equals
    the DML replay."""
    desc = FIXTURE_TABLES["tbl_simple"]
    dml = [
        ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
        ("update", ("a",), (1,), {"v1": 2}),
    ]
    rows = CdcLogGenerator(desc).encode(dml)
    images = []
    for i, r in enumerate(rows):
        # the row as the statement left it, at the delta row's cdc$time
        [after] = replay_dml(desc, dml[: i + 1])
        images.append({**r, **after, "cdc$operation": 9, "cdc$batch_seq_no": 1})
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    _write_files(spark, schema, [[rows[0], images[0], rows[1]], [images[1]]], src)
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"), mode="postimage",
        max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)


def _sink_dml(desc, rng, n):
    """Random statements over 2 partition keys x 3 clustering values: inserts,
    one-column updates (of rows never inserted too, so without a row
    marker), NULL cell writes, row, partition and range deletes (bounds on a
    clustering prefix, either inclusivity)."""
    n_ck = len(desc.clustering_keys)

    def value(c):
        if rng.random() < 0.5:
            return None
        if desc.base_field(c).dataType.typeName() == "string":
            return "s%d" % rng.randrange(9)
        return rng.randrange(9)

    dml = []
    for _ in range(n):
        pk = ("p%d" % rng.randrange(2),)
        ck = tuple(rng.randrange(3) for _ in range(n_ck))
        roll = rng.random()
        if roll < 0.15:
            dml.append(("insert", pk, ck, {c: value(c) for c in desc.regular_columns}))
        elif roll < 0.7:
            c = rng.choice(desc.regular_columns)
            dml.append(("update", pk, ck, {c: value(c)}))
        elif roll < 0.85:
            dml.append(("row_delete", pk, ck))
        elif roll < 0.9 or not n_ck:
            dml.append(("partition_delete", pk))
        else:
            k = rng.randrange(1, n_ck + 1)
            lo = tuple(rng.randrange(2) if i < k else None for i in range(n_ck))
            hi = tuple(rng.randrange(1, 3) if i < k else None for i in range(n_ck))
            dml.append(("range_delete", pk, (lo, rng.random() < 0.5), (hi, rng.random() < 0.5)))
    return dml


def _ckless_table():
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor

    return CdcTableDescriptor(
        name="tbl_ckless",
        base_schema=T.StructType(
            [T.StructField("pk", T.StringType()), T.StructField("v1", T.IntegerType()),
             T.StructField("v2", T.StringType())]
        ),
        partition_keys=["pk"],
    )


@pytest.mark.parametrize("table", ["tbl_simple", "tbl_multiple_clustering_keys", "tbl_ckless"])
def test_sink_calls_match_replay_at_every_cut(spark, table, tmp_path):
    """Sink differential: a seeded log in time order, no redelivery, cut at
    random row positions into direct ``ReplicatorSink`` calls, one cut
    between the two bound rows of a range delete that removes rows. After
    every call the state equals the replay of the statements delivered
    whole so far: an open left bound waits in the state for its right
    bound, a row written only by updates keeps no row marker across calls,
    and a call that deletes every row is committed."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = _ckless_table() if table == "tbl_ckless" else FIXTURE_TABLES[table]
    rng = random.Random(13)
    dml = _sink_dml(desc, rng, n=60)
    gen = CdcLogGenerator(desc, seed=13)
    # ends[i]: the row count once statement i is encoded
    ends = [len(gen.encode([stmt])) for stmt in dml]
    rows = gen.encode([])
    cuts = set(rng.sample(range(1, len(rows)), 9))
    splits = [
        ends[i] - 1
        for i, stmt in enumerate(dml)
        if stmt[0] == "range_delete" and replay_dml(desc, dml[:i]) != replay_dml(desc, dml[: i + 1])
    ]
    assert bool(splits) == bool(desc.clustering_keys)
    if splits:
        cuts.add(rng.choice(splits))
    # a last call deletes every partition: it writes no row, and the sink
    # must still commit it
    cuts.add(len(rows))
    tail = [("partition_delete", ("p%d" % i,)) for i in range(2)]
    ends += [len(gen.encode([stmt])) for stmt in tail]
    dml += tail
    rows = gen.encode([])
    schema = build_cdc_log_schema(desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    prev = 0
    for call, cut in enumerate([*sorted(cuts), len(rows)]):
        sink(spark.createDataFrame(rows[prev:cut], schema), call)
        prev = cut
        delivered = dml[: sum(e <= cut for e in ends)]
        state = sink.current_state(spark)
        if state is None:
            state = spark.createDataFrame([], desc.base_schema)
        _assert_state_matches(desc, state, delivered)


def _statement_rows(desc, dml, seed):
    """Encode ``dml`` in time order; returns the rows, each statement's
    (first row, end row) and each statement's ``cdc$time`` in micros."""
    gen = CdcLogGenerator(desc, seed=seed)
    spans, times = [], []
    for stmt in dml:
        start = len(gen.encode([]))
        spans.append((start, len(gen.encode([stmt]))))
        times.append(gen._t)
    return gen.encode([]), spans, times


@pytest.mark.parametrize("table", ["tbl_simple", "tbl_multiple_clustering_keys", "tbl_ckless"])
def test_sink_calls_with_redelivery_match_replay(spark, table, tmp_path):
    """Sink differential under at-least-once delivery: a seeded log in time
    order (row, partition and range deletes) cut at statement boundaries
    into 10 direct ``ReplicatorSink`` calls, each of which also re-sends
    random whole earlier CDC batches that are inside the confidence window
    (30 s behind the newest change committed). After every call the state
    equals the replay of the statements delivered so far: a redelivered
    write of a deleted row meets the row tombstone and stays deleted."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = _ckless_table() if table == "tbl_ckless" else FIXTURE_TABLES[table]
    rng = random.Random(17)
    dml = _sink_dml(desc, rng, n=120)
    rows, spans, times = _statement_rows(desc, dml, 17)
    cuts = [*sorted(rng.sample(range(1, len(dml)), 9)), len(dml)]
    schema = build_cdc_log_schema(desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    resent = 0
    prev = 0
    for call, cut in enumerate(cuts):
        batch = rows[spans[prev][0]:spans[cut - 1][1]]
        if prev:
            horizon = times[prev - 1] - 1000 * sink.confidence_ms
            for i in range(prev):
                if times[i] >= horizon and rng.random() < 0.3:
                    batch += rows[spans[i][0]:spans[i][1]]
                    resent += 1
        rng.shuffle(batch)
        sink(spark.createDataFrame([dict(r) for r in batch], schema), call)
        prev = cut
        state = sink.current_state(spark)
        if state is None:
            state = spark.createDataFrame([], desc.base_schema)
        _assert_state_matches(desc, state, dml[:cut])
    assert resent > 20


def test_sink_horizon_drops_old_rows_and_tombstones(spark, tmp_path):
    """The horizon is the newest committed ``cdc$time`` minus the confidence
    window. A batch row older than it is dropped, a row tombstone older
    than it is gone from the bucket files the call writes, and a newer
    tombstone is kept."""
    from scylla_cdc_java_spark.operators.apply import seed_op_column
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    schema = build_cdc_log_schema(desc)
    gen = CdcLogGenerator(desc)
    gen.encode([("insert", ("a",), (1,), {"v1": 1}), ("row_delete", ("a",), (1,))])
    gen._t += 40_000_000
    first = gen.encode([("insert", ("b",), (1,), {"v1": 2}), ("row_delete", ("b",), (1,))])
    sink = ReplicatorSink(desc, str(tmp_path / "state"), confidence_ms=30_000)
    sink(spark.createDataFrame([dict(r) for r in first], schema), 0)

    def tombstones():
        k = seed_op_column(desc)
        state = sink._committed_state(spark).where(f"{k} = 3")
        return sorted((r["pk"], r["ck"]) for r in state.collect())

    assert tombstones() == [("a", 1), ("b", 1)]
    # an insert at the log's start, 40 s behind: older than the horizon
    old = CdcLogGenerator(desc).encode([("insert", ("c",), (1,), {"v1": 3})])
    new = gen.encode([("insert", ("d",), (1,), {"v1": 4})])[-1:]
    sink(spark.createDataFrame([dict(r) for r in old + new], schema), 1)
    assert sink._latest_manifest()["metrics"]["rows_in"] == 1
    assert tombstones() == [("b", 1)]
    _assert_state_matches(desc, sink.current_state(spark), [("insert", ("d",), (1,), {"v1": 4})])


def test_sink_horizon_keeps_generated_code(spark, tmp_path):
    """Two horizons give the same whole-stage generated code, so a trigger
    does not compile the stage again: the horizon is a struct literal,
    which the code reads from its references. A plain BIGINT literal is
    written into the code."""
    from scylla_cdc_java_spark.operators.normalize import normalize_changes
    from scylla_cdc_java_spark.streaming.replicator import _since

    desc = FIXTURE_TABLES["tbl_simple"]
    schema = build_cdc_log_schema(desc)
    rows = CdcLogGenerator(desc).encode([("insert", ("a",), (1,), {"v1": 1})])
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    changes = normalize_changes(spark.read.schema(schema).parquet(src))

    def code(cond):
        stages = changes.where(cond)._jdf.queryExecution().debug().codegenToSeq()
        return [stages.apply(i)._2() for i in range(stages.size())]

    horizons = (1_600_000_000_000_000, 1_600_000_030_000_000)
    assert code(_since(horizons[0])) == code(_since(horizons[1]))
    plain = [f"`cdc$time_micros` >= CAST({h} AS BIGINT)" for h in horizons]
    assert code(plain[0]) != code(plain[1])


def test_replicator_restarts_on_checkpoint_with_dedup_state(spark, tmp_path):
    """A checkpoint written while the stream ran ``dropDuplicatesWithinWatermark``
    restarts under the stateless stream: the consumer deletes the retired
    operator's ``state/`` directory, which Spark would otherwise refuse
    (its state metadata names an operator the plan no longer has), and the
    second run ends equal to the DML replay."""
    from scylla_cdc_java_spark.streaming import dedup_within_watermark
    from scylla_cdc_java_spark.streaming.replicator import _Replication

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(31)
    dml = _rand_dml(desc, rng, n=40)
    rows = CdcLogGenerator(desc).encode(dml)
    cut = len(rows) // 2
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    work = str(tmp_path / "work")
    _write_chunks(spark, schema, rows[:cut], src, 2, rng)
    run = _Replication(spark, desc, src, schema, work, "delta", 0)
    ckpt = run.consumer.checkpoint_dir
    query = (
        dedup_within_watermark(run.consumer.changes())
        .writeStream.foreachBatch(run.sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert os.path.isdir(os.path.join(ckpt, "state"))

    _write_chunks(spark, schema, rows[cut:], src, 2, rng)
    state = replicate_available_now(spark, src, schema, desc, work)
    _assert_state_matches(desc, state, dml)
    assert not os.path.exists(os.path.join(ckpt, "state"))


def test_run_with_retries_logs_each_failure(caplog):
    """T5 observability: a failed attempt is logged with its attempt
    number and traceback before the restart, not swallowed."""
    import logging

    from scylla_cdc_java_spark.streaming import run_with_retries

    class NoWait:
        def backoff_ms(self, attempt):
            return 0

    class Query:
        def __init__(self, fail):
            self.fail = fail

        def awaitTermination(self):
            if self.fail:
                raise RuntimeError("injected stream failure")

    queries = iter([Query(fail=True), Query(fail=False)])
    with caplog.at_level(logging.WARNING, logger="scylla_cdc_java_spark.streaming.consumer"):
        final = run_with_retries(lambda: next(queries), backoff=NoWait())
    assert not final.fail
    [rec] = caplog.records
    assert "attempt 1" in rec.getMessage()
    assert rec.exc_info and isinstance(rec.exc_info[1], RuntimeError)


def test_run_with_retries_replays_failed_batch(spark, tmp_path):
    """T5: a sink crash fails the query; the retry loop restarts it and the
    checkpoint replays the failed batch — end state still converges."""
    from scylla_cdc_java_spark.functions.retry import ExponentialRetryBackoffWithJitter
    from scylla_cdc_java_spark.streaming import CDCStreamConsumer, run_with_retries
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    dml = [("insert", ("a",), (i,), {"v1": i, "v2": "x"}) for i in range(10)]
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 1, random.Random(0))

    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    calls = {"n": 0}

    def flaky(batch_df, batch_id):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected sink failure")
        sink(batch_df, batch_id)

    def start():
        return (
            CDCStreamConsumer(spark)
            .with_source(src, schema)
            .with_confidence_window_ms(0)
            .with_checkpoint(str(tmp_path / "ckpt"))
            .trigger_available_now()
            .start(flaky)
        )

    run_with_retries(
        start,
        backoff=ExponentialRetryBackoffWithJitter(base_ms=10, cap_ms=50),
        max_restarts=3,
    )
    assert calls["n"] >= 2
    state = sink.current_state(spark)
    _assert_state_matches(desc, state, dml)


def test_streaming_latency_within_reference_bound(spark, tmp_path):
    """BASELINE latency parity: with small windows (reference IT config uses
    3 s/3 s) an event must be visible in the materialized state well within
    the reference bound of queryWindow + confidenceWindow + trigger —
    we assert a generous 30 s envelope (the IT convergence await)."""
    import time as _time

    from scylla_cdc_java_spark.streaming import CDCStreamConsumer
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rows = CdcLogGenerator(desc).encode(
        [("insert", ("a",), (1,), {"v1": 7, "v2": "live"})]
    )
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    consumer = (
        CDCStreamConsumer(spark)
        .with_source(src, schema)
        .with_confidence_window_ms(1000)
        .with_checkpoint(str(tmp_path / "ckpt"))
        .with_trigger_interval("1 second")
    )
    # the source dir must exist before the stream starts
    spark.createDataFrame([], schema).write.parquet(src)
    query = consumer.start(sink)
    try:
        t0 = _time.time()
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        deadline = t0 + 30.0
        seen = False
        while _time.time() < deadline:
            state = sink.current_state(spark)
            if state is not None and state.where("pk = 'a' AND ck = 1").take(1):
                seen = True
                break
            _time.sleep(0.5)
        latency = _time.time() - t0
        assert seen, "event not materialized within the 30 s reference bound"
        assert latency < 30.0
    finally:
        CDCStreamConsumer.stop(query)


def test_replicator_schema_evolution_add_and_drop(spark, tmp_path, target_bucket_bytes):
    """AlterAddColIT/AlterDropColIT analog (reference AlterTableBase.java:28
    family): restart the replicator with an ALTERed descriptor — rows
    materialized under the old schema gain NULL for an added column and
    shed a dropped one; replication continues on the same state dir."""
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor, descriptor_diff
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    def desc_of(*fields):
        return CdcTableDescriptor(
            name="tbl_evo",
            base_schema=T.StructType([T.StructField(n, t) for n, t in fields]),
            partition_keys=["pk"],
            clustering_keys=["ck"],
        )

    S, I = T.StringType(), T.IntegerType()
    v1 = desc_of(("pk", S), ("ck", I), ("v1", I))
    v2 = desc_of(("pk", S), ("ck", I), ("v1", I), ("v2", S))  # ALTER ADD v2
    v3 = desc_of(("pk", S), ("ck", I), ("v2", S))  # ALTER DROP v1
    assert descriptor_diff(v1, v2) == (["v2"], [])
    assert descriptor_diff(v2, v3) == ([], ["v1"])

    state_dir = str(tmp_path / "state")
    # 600 filler rows and a ~2 KB target bucket size keep the state in
    # several buckets, so the last batch leaves some of them untouched
    filler = [("insert", ("f%d" % i,), (1,), {"v1": i}) for i in range(600)]
    target_bucket_bytes(2048)
    g1 = CdcLogGenerator(v1)
    sink1 = ReplicatorSink(v1, state_dir)
    sink1(
        g1.spark_df(
            spark,
            [("insert", ("a",), (1,), {"v1": 10}), ("insert", ("b",), (1,), {"v1": 20})]
            + filler,
            shuffle=False,
        ),
        0,
    )

    # restart with the column added; log times continue after batch 1
    g2 = CdcLogGenerator(v2)
    g2._t = g1._t
    sink2 = ReplicatorSink(v2, state_dir)
    sink2(
        g2.spark_df(
            spark,
            [
                ("insert", ("a",), (2,), {"v1": 11, "v2": "x"}),
                ("update", ("b",), (1,), {"v2": "y"}),
            ],
            shuffle=False,
        ),
        1,
    )
    got = {
        (r["pk"], r["ck"]): (r["v1"], r["v2"])
        for r in sink2.current_state(spark).where("pk NOT LIKE 'f%'").collect()
    }
    assert got == {("a", 1): (10, None), ("a", 2): (11, "x"), ("b", 1): (20, "y")}

    # restart again with v1 dropped; untouched buckets also stop exposing it
    g3 = CdcLogGenerator(v3)
    g3._t = g2._t
    sink3 = ReplicatorSink(v3, state_dir)
    sink3(
        g3.spark_df(spark, [("insert", ("c",), (1,), {"v2": "z"})], shuffle=False), 2
    )
    manifest = sink3._latest_manifest()
    assert any(not rel.startswith("v2/") for rel in manifest["buckets"].values())
    state3 = sink3.current_state(spark)
    assert "v1" not in state3.columns
    assert state3.count() == 604
    got3 = {(r["pk"], r["ck"]): r["v2"] for r in state3.where("pk NOT LIKE 'f%'").collect()}
    assert got3 == {("a", 1): None, ("a", 2): "x", ("b", 1): "y", ("c", 1): "z"}


def test_descriptor_diff_rejects_key_changes():
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor, descriptor_diff

    desc = CdcTableDescriptor(
        name="t",
        base_schema=T.StructType(
            [T.StructField("pk", T.StringType()), T.StructField("v", T.IntegerType())]
        ),
        partition_keys=["pk"],
    )
    desc2 = CdcTableDescriptor(
        name="t",
        base_schema=desc.base_schema,
        partition_keys=["pk"],
        clustering_keys=["v"],
    )
    with pytest.raises(ValueError, match="key"):
        descriptor_diff(desc, desc2)


# full: vacuum-liveness exercised on the bucket-removal path too.
@pytest.mark.full
def test_replicator_vacuum_keeps_live_state(spark, tmp_path):
    """vacuum removes superseded version dirs/manifests but never a dir the
    kept manifest still points into; state reads identically after."""
    import os

    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(13)
    dml = _rand_dml(desc, rng, n=40)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 4, rng)
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"),
        max_files_per_trigger=1,
    )
    before = sorted(_canon(tuple(r)) for r in state.collect())

    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"))
    manifests = [f for f in os.listdir(sink.state_dir) if f.startswith("manifest-")]
    assert len(manifests) > 1  # several versions accumulated
    removed = sink.vacuum(keep_versions=1)
    assert removed  # something was garbage
    after_df = sink.current_state(spark)
    after = sorted(
        _canon(tuple(r[n] for n in [f.name for f in desc.base_schema.fields]))
        for r in after_df.collect()
    )
    names = [f.name for f in desc.base_schema.fields]
    before_named = sorted(
        _canon(tuple(r[n] for n in names)) for r in state.collect()
    )
    assert after == before_named


def test_replicator_vacuum_removes_torn_manifest_commit(spark, tmp_path):
    """A crash between writing the manifest temp file and renaming it
    leaves ``manifest-N.json.tmp-*`` behind: vacuum must remove it (not
    fail parsing it as a version) and the state must read the same."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(17)
    dml = _rand_dml(desc, rng, n=30)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 2, rng)
    replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"),
        max_files_per_trigger=1,
    )
    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"))
    version = sink._latest_manifest()["version"]
    torn = os.path.join(sink.state_dir, f"manifest-{version + 1}.json.tmp-1a2b3c4d")
    with open(torn, "w") as fh:
        fh.write('{"version": ')  # the crash cut the temp write short too

    removed = sink.vacuum(keep_versions=1)
    assert torn in removed
    assert not os.path.exists(torn)
    assert sink._latest_manifest()["version"] == version
    _assert_state_matches(desc, sink.current_state(spark), dml)


def _stream(run, body, name):
    """One AvailableNow pass of ``run``'s consumer into ``body``; returns the
    query after it ends (raises if a call of ``body`` failed)."""
    query = run.consumer.trigger_available_now().start(body, query_name=name)
    query.awaitTermination()
    return query


def _recorded(sink, calls):
    """A ``foreachBatch`` body that runs ``sink`` and appends, per call, the
    batch id and the state dir's listing before and after it."""

    def body(batch_df, batch_id):
        before = sorted(os.listdir(sink.state_dir))
        sink(batch_df, batch_id)
        calls.append((batch_id, before, sorted(os.listdir(sink.state_dir))))

    return body


def _raise(*_, **__):
    raise RuntimeError("injected crash")


@pytest.mark.parametrize("point", ["before_write", "before_manifest", "before_checkpoint"])
def test_replicator_crash_replay_converges(spark, tmp_path, point):
    """A crash at each commit point of a trigger fails the query: before
    the bucket write, between the write and the manifest commit, and
    between the manifest commit and the stream's checkpoint commit. The
    restart replays the batch from the checkpoint and the state equals the
    DML replay. The replay of a batch whose manifest is committed writes no
    bucket and commits no manifest."""
    from scylla_cdc_java_spark.streaming.replicator import _Replication

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(19)
    dml = _rand_dml(desc, rng, n=30)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 2, rng)
    run = _Replication(spark, desc, src, schema, str(tmp_path / "work"), "delta", 0, 1)
    sink = run.sink
    patched = {"before_write": "_write_buckets", "before_manifest": "_commit_manifest"}.get(point)

    def crashing(batch_df, batch_id):
        if patched:
            setattr(sink, patched, _raise)
        try:
            sink(batch_df, batch_id)
        finally:
            if patched:
                delattr(sink, patched)
        _raise()  # the sink returned: crash before the checkpoint commit

    with pytest.raises(Exception, match="injected crash"):
        _stream(run, crashing, "crash")
    manifest = sink._latest_manifest()
    if point == "before_checkpoint":
        assert (manifest["batch_id"], manifest["version"]) == (0, 0)
    else:
        assert manifest is None
        assert os.path.isdir(os.path.join(sink.state_dir, "v0")) == (point == "before_manifest")

    calls = []
    _stream(run, _recorded(sink, calls), "replay")
    _assert_state_matches(desc, run.state(), dml)
    replay_id, before, after = calls[0]
    assert replay_id == 0  # the crashed batch runs again first
    if point == "before_checkpoint":
        assert before == after  # no bucket rewritten, no manifest committed
    else:
        assert "manifest-0.json" in after


def test_replicator_no_data_batch_commits_nothing(spark, tmp_path):
    """A micro-batch whose rows are all older than the sink's horizon (the
    newest committed ``cdc$time`` minus the confidence window) leaves no
    new manifest and no ``v<N>`` directory; the latest manifest still
    records the last data batch and its row count. So does an empty batch
    outside a stream, where adaptive execution prunes the observed node."""
    from scylla_cdc_java_spark.streaming.replicator import _Replication

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(29)
    dml = _rand_dml(desc, rng, n=30)
    gen = CdcLogGenerator(desc)
    rows = [dict(r) for r in gen.encode(dml)]
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_files(spark, schema, [rows], src)
    gen._t += 60_000_000  # one minute on: the first file falls behind the horizon
    late = [dict(r) for r in gen.encode([("insert", ("late",), (1,), {"v1": 1})])[-1:]]
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # a redelivery of the first file, now older than the horizon
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    run = _Replication(spark, desc, src, schema, str(tmp_path / "work"), "delta", 30_000, 1)
    calls = []
    query = _stream(run, _recorded(run.sink, calls), "no-data")
    rows_in = {p["batchId"]: p["numInputRows"] for p in query.recentProgress}
    assert [b for b, _, _ in calls] == [0, 1, 2]
    assert rows_in[2] == len(rows)

    _, before, after = calls[2]
    assert before == after
    manifest = run.sink._latest_manifest()
    assert (manifest["batch_id"], manifest["metrics"]["rows_in"]) == (1, 1)
    _assert_state_matches(desc, run.state(), dml + [("insert", ("late",), (1,), {"v1": 1})])

    listing = sorted(os.listdir(run.sink.state_dir))
    run.sink(spark.createDataFrame([], schema), 3)
    assert sorted(os.listdir(run.sink.state_dir)) == listing


def _bucket_files(sink, manifest):
    """bucket -> the parquet data files its manifest directory holds."""
    out = {}
    for b, rel in manifest["buckets"].items():
        d = os.path.join(sink.state_dir, rel)
        out[b] = [f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")]
    return out


def _wide_insert(key, ck, rng):
    # a 40-character random value: ~60 bytes of parquet per row, so a few
    # hundred rows outweigh one file's fixed overhead (~1.5 KB)
    return ("insert", (key,), (ck,), {"v1": rng.randrange(1000), "v2": "%040x" % rng.getrandbits(160)})


class _Batches:
    """Each call encodes a DML wave as one new micro-batch DataFrame (the
    generator's ``encode`` returns its whole row list) and keeps the DML
    prefix applied so far for the oracle."""

    def __init__(self, spark, desc):
        self.spark, self.gen = spark, CdcLogGenerator(desc)
        self.schema = build_cdc_log_schema(desc)
        self.dml: list[tuple] = []
        self.rows = 0

    def __call__(self, wave):
        rows = self.gen.encode(wave)[self.rows:]
        self.rows += len(rows)
        self.dml += wave
        return self.spark.createDataFrame(rows, self.schema)


def test_replicator_writes_one_file_per_bucket(spark, tmp_path, target_bucket_bytes):
    """Every bucket directory the manifest points at holds exactly one
    parquet file — after several micro-batches with redelivery (there are
    more buckets than shuffle partitions) and
    after a full ``conform_snapshot`` rewrite — and the state is intact."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(23)
    dml = [_wide_insert("k%d" % rng.randrange(400), rng.randrange(3), rng) for _ in range(1500)]
    dml += [("row_delete", ("k%d" % rng.randrange(400),), (rng.randrange(3),)) for _ in range(100)]
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 3, rng, replay_frac=0.2)
    target_bucket_bytes(2048)
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"), max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)

    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"))
    manifest = sink._latest_manifest()
    assert manifest["version"] >= 1  # at least two micro-batches committed
    files = _bucket_files(sink, manifest)
    assert len(files) > int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert all(len(f) == 1 for f in files.values()), files

    assert sink.conform_snapshot(spark)
    manifest = sink._latest_manifest()
    files = _bucket_files(sink, manifest)
    assert all(rel.startswith(f"v{manifest['version']}/") for rel in manifest["buckets"].values())
    assert all(len(f) == 1 for f in files.values()), files
    _assert_state_matches(desc, sink.current_state(spark), dml)


def _jobs(spark):
    """id -> (description, submission time in s) of every job in the
    status store (UI off too)."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(seq.size()):
        j = seq.apply(i)
        desc = j.description().get() if j.description().isDefined() else ""
        out[j.jobId()] = (desc, j.submissionTime().get().getTime() / 1e3)
    return out


def test_replicator_call_lists_paths_in_driver(spark, tmp_path, target_bucket_bytes):
    """A sink call that reads more bucket directories than Spark's default
    parallel-listing threshold (32) lists them in the driver: no
    ``Listing leaf files`` job runs during the streamed call."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    batch = _Batches(spark, desc)
    rng = random.Random(0)
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")

    def wave(dml):
        batch(dml).coalesce(1).write.mode("append").parquet(src)
        replicate_available_now(spark, src, batch.schema, desc, work)

    # the first call writes one bucket, the second re-buckets the state
    target_bucket_bytes(2560)
    wave([_wide_insert("k%d" % i, 0, rng) for i in range(2500)])
    wave([_wide_insert("k%d" % i, 0, rng) for i in range(0, 2500, 50)])
    before = _jobs(spark)
    wave([_wide_insert("k%d" % i, 0, rng) for i in range(0, 2500, 3)])
    new_jobs = {i: d for i, (d, _) in _jobs(spark).items() if i not in before}

    sink = ReplicatorSink(desc, os.path.join(work, "state"))
    last = sink._latest_manifest()
    assert last["version"] == 2  # one call per wave
    assert sink.n_buckets > 32
    assert sum(rel.startswith("v2/") for rel in last["buckets"].values()) > 32
    assert new_jobs
    listing = [d for d in new_jobs.values() if d.startswith("Listing leaf files")]
    assert not listing, listing


def test_replicator_call_at_one_bucket_is_one_sql_execution(spark, tmp_path):
    """At one bucket every sink call of a stream is one SQL execution, the
    bucket write, which scans each batch row once: no changed-bucket
    pre-pass, and every job submitted while the call ran is one of that
    execution's (adaptive execution runs it as a few jobs, one per query
    stage), so no footer-merge or listing job runs for the state read.
    Read from the status store."""
    from scylla_cdc_java_spark.streaming.replicator import _Replication

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(43)
    dml = _rand_dml(desc, rng, n=40)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 3, rng)
    run = _Replication(spark, desc, src, schema, str(tmp_path / "work"), "delta", 0, 1)
    calls = []

    def counted(batch_df, batch_id):
        start = time.time()
        run.sink(batch_df, batch_id)
        calls.append((batch_id, start, time.time()))

    query = _stream(run, counted, "one-execution")
    _assert_state_matches(desc, run.state(), dml)
    assert run.sink.n_buckets == 1
    assert run.sink._latest_manifest()["version"] == 2  # later calls read the state
    rows_in = {p["batchId"]: p["numInputRows"] for p in query.recentProgress}
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    executions = [executions.apply(i) for i in range(executions.size())]
    jobs = _jobs(spark)
    for batch_id, start, end in calls:
        [e] = [e for e in executions if start <= e.submissionTime() / 1e3 <= end]
        submitted = {j for j, (_, t) in jobs.items() if start <= t <= end}
        keys = e.jobs().keySet().toSeq()
        assert submitted == {keys.apply(i) for i in range(keys.size())}
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        scanned = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "Scan ExistingRDD":
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "number of output rows":
                    scanned += int(values.get(m.accumulatorId()).get().replace(",", ""))
        assert scanned == rows_in[batch_id]


def _ten_scalar_table():
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor

    cols = [(f"c{i}", T.IntegerType() if i % 2 else T.StringType()) for i in range(10)]
    return CdcTableDescriptor(
        name="ten_scalars",
        base_schema=T.StructType(
            [T.StructField(n, t) for n, t in [("pk", T.StringType()), *cols]]
        ),
        partition_keys=["pk"],
    )


# py4j round trips one sink call may make. With PySpark 4.1.2 the call
# below makes 115 (``user_state``) and 147 (10 scalar columns); building
# the apply plan through the Column API made it 1,250 and 3,314.
_SINK_CALL_ROUND_TRIPS = 300


@pytest.mark.parametrize("table", ["user_state", "ten_scalars"])
def test_replicator_call_py4j_round_trip_budget(spark, tmp_path, monkeypatch, table):
    """A one-bucket sink call into an existing state builds its plans from
    a few Spark calls over SQL strings, so the driver's py4j round trips
    stay within a fixed budget whatever the column count. Counted at the
    py4j connection, with DataFrame debugging on (each Column-API call then
    also sets and clears its call site in the JVM)."""
    import threading

    import py4j.clientserver

    from scylla_cdc_java_spark.operators.normalize import normalize_changes
    from scylla_cdc_java_spark.sources.events_cdc import USER_STATE_DESC
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "true") == "true"
    desc = USER_STATE_DESC if table == "user_state" else _ten_scalar_table()
    rng = random.Random(61)

    def wave(n):
        out = []
        for _ in range(n):
            pk = rng.randrange(50) if table == "user_state" else "k%d" % rng.randrange(50)
            if rng.random() < 0.1:
                out.append(("row_delete", (pk,), ()))
                continue
            cells = {}
            for c in desc.regular_columns:
                kind = desc.base_field(c).dataType.typeName()
                v = rng.randrange(99)
                cells[c] = float(v) if kind == "double" else v if kind == "integer" else "s%d" % v
            out.append((rng.choice(["insert", "update"]), (pk,), (), cells))
        return out

    batch = _Batches(spark, desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    sink(batch(wave(200)), 0)
    # a stream's micro-batch arrives normalized (the consumer adds the time)
    df = normalize_changes(batch(wave(200)))
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(self, command):
        # this thread's calls; py4j's memory commands release Java objects
        # that Python garbage-collected, whichever test made them
        if threading.get_ident() == me and not command.startswith("m\n"):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
    sink(df, 1)
    monkeypatch.undo()
    assert sink._latest_manifest()["version"] == 1 and sink.n_buckets == 1
    assert len(sent) <= _SINK_CALL_ROUND_TRIPS, (len(sent), sent[:20])
    _assert_state_matches(desc, sink.current_state(spark), batch.dml)


def test_replicator_stable_buckets_rewrite_only_changed(spark, tmp_path, target_bucket_bytes):
    """A trigger into a many-bucket state whose bucket count holds reads
    and rewrites only the buckets its keys hash into (the changed-bucket
    pre-pass); every other bucket keeps its file, and the manifest's
    metrics count the rewritten buckets."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink, _bucket_expr

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(47)
    batch = _Batches(spark, desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    target_bucket_bytes(4096)
    sink(batch([_wide_insert("k%d" % i, 0, rng) for i in range(600)]), 0)
    sink(batch([_wide_insert("k%d" % i, 1, rng) for i in range(0, 600, 60)]), 1)
    before = sink._latest_manifest()
    n = before["n_buckets"]
    assert n >= 4  # the second trigger re-bucketed the state

    keys = ["k3", "k300"]
    sink(batch([_wide_insert(k, 2, rng) for k in keys] + [("row_delete", ("k5",), (0,))]), 2)
    after = sink._latest_manifest()
    assert after["n_buckets"] == n
    hashed = spark.createDataFrame([(k,) for k in keys + ["k5"]], "pk string")
    changed = {str(r[0]) for r in hashed.select(_bucket_expr(["pk"], n)).collect()}
    assert len(changed) < n
    assert {b for b, rel in after["buckets"].items() if rel.startswith("v2/")} == changed
    assert all(after["buckets"][b] == rel for b, rel in before["buckets"].items() if b not in changed)
    assert after["metrics"]["buckets_touched"] == after["metrics"]["buckets_written"] == len(changed)
    _assert_state_matches(desc, sink.current_state(spark), batch.dml)


def test_replicator_reports_lag_against_confidence_window(spark, tmp_path):
    """The manifest records the newest committed ``cdc$time``; the consumer
    lag is now minus that time and is compared with the confidence
    window."""
    from pyspark.sql import functions as F

    from scylla_cdc_java_spark.operators.normalize import TIME_MICROS, normalize_changes
    from scylla_cdc_java_spark.streaming.replicator import _Replication

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(53)
    dml = _rand_dml(desc, rng, n=30)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 2, rng)
    run = _Replication(spark, desc, src, schema, str(tmp_path / "work"), "delta", 30_000, 1)
    assert run.lag() is None  # nothing committed yet
    run.catch_up()

    newest = normalize_changes(spark.createDataFrame(rows, schema)).agg(F.max(TIME_MICROS)).first()[0]
    assert run.sink._latest_manifest()["max_time_micros"] == newest
    for lag_ms, within in ((1_500, True), (45_000, False)):
        lag = run.lag(now_ms=newest / 1e3 + lag_ms)
        assert lag == {"lag_ms": pytest.approx(lag_ms), "confidence_ms": 30_000,
                       "within_confidence": within}
    assert run.lag()["lag_ms"] == pytest.approx(time.time() * 1e3 - newest / 1e3, abs=60_000)


def test_replicator_grows_bucket_count_with_state(spark, tmp_path, target_bucket_bytes):
    """The bucket count follows the committed state: the first write is one
    bucket, a state grown past twice the target bucket size is re-bucketed
    to >= 4 (every live bucket rewritten at the new count), each live bucket
    holds one parquet file, and the state equals the DML replay after every
    micro-batch."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(31)
    batch = _Batches(spark, desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    waves = [
        [_wide_insert("k%d" % i, 0, rng) for i in range(150)],
        [_wide_insert("k%d" % i, 1, rng) for i in range(150, 600)],
        [_wide_insert("k%d" % rng.randrange(600), 0, rng) for _ in range(100)]
        + [("row_delete", ("k%d" % rng.randrange(600),), (1,)) for _ in range(30)],
        [_wide_insert("k%d" % i, 2, rng) for i in range(20)],
    ]
    counts = []
    target_bucket_bytes(2048)
    for batch_id, wave in enumerate(waves):
        sink(batch(wave), batch_id)
        manifest = sink._latest_manifest()
        _assert_state_matches(desc, sink.current_state(spark), batch.dml)
        assert all(len(f) == 1 for f in _bucket_files(sink, manifest).values())
        assert manifest["bucket_bytes"].keys() == manifest["buckets"].keys()
        if counts and manifest["n_buckets"] != counts[-1]:
            rel = f"v{manifest['version']}/"
            assert all(r.startswith(rel) for r in manifest["buckets"].values())
        counts.append(manifest["n_buckets"])
    assert counts[0] == 1
    assert max(counts) >= 4
    assert sink.n_buckets == counts[-1]


def test_replicator_bucket_count_holds_at_band_edge(spark, tmp_path, target_bucket_bytes):
    """A state whose size swings across the edge that re-bucketed it does
    not re-bucket again: the band is [T/2, 2T] per bucket, so after one
    bucket becomes two, a state moving between under and over 2T keeps
    two buckets on every trigger."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(37)
    batch = _Batches(spark, desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    sink(batch([_wide_insert("k%d" % i, 0, rng) for i in range(400)]), 0)
    assert sink.n_buckets == 1
    target = int(sum(sink._latest_manifest()["bucket_bytes"].values()) / 2.1)

    counts, sizes = [], []
    target_bucket_bytes(target)
    for batch_id in range(1, 5):
        if batch_id % 2:
            wave = [("row_delete", ("k%d" % i,), (0,)) for i in range(200, 400)]
        else:
            wave = [_wide_insert("k%d" % i, 0, rng) for i in range(200, 400)]
        sink(batch(wave), batch_id)
        manifest = sink._latest_manifest()
        counts.append(manifest["n_buckets"])
        sizes.append(sum(manifest["bucket_bytes"].values()))
        _assert_state_matches(desc, sink.current_state(spark), batch.dml)
    assert counts == [2, 2, 2, 2]
    assert min(sizes) < 2 * target < max(sizes)  # hovering at one bucket's edge


def test_replicator_rebuckets_manifest_without_bucket_count(spark, tmp_path):
    """A manifest written before the sizing rule (8 buckets, no recorded
    count or sizes) is re-bucketed by the next trigger — every live bucket
    rewritten, here into the one bucket a small state gets — and the
    state matches the DML replay."""
    from scylla_cdc_java_spark.model.statestore import commit_json
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(41)
    batch = _Batches(spark, desc)
    sink = ReplicatorSink(desc, str(tmp_path / "state"))
    sink(batch([_wide_insert("k%d" % i, 0, rng) for i in range(60)]), 0)
    buckets, _ = sink._write_buckets(sink.current_state(spark), 1, 8)
    assert len(buckets) == 8
    commit_json(os.path.join(sink.state_dir, "manifest-1.json"), {"version": 1, "buckets": buckets})
    assert sink.n_buckets is None

    sink(batch([_wide_insert("k7", 0, rng), ("row_delete", ("k8",), (0,))]), 1)
    manifest = sink._latest_manifest()
    assert manifest["version"] == 2
    assert manifest["n_buckets"] == 1
    assert manifest["buckets"] == {"0": "v2/__bucket=0"}
    _assert_state_matches(desc, sink.current_state(spark), batch.dml)


# full: generation rollover pinned by the t6 oracle gate.
@pytest.mark.full
def test_generation_directories_roll_over(spark, tmp_path):
    """T6 in the file-source mapping: each generation is a
    generation=<id> directory; new directories are picked up as their
    files arrive and the generation id surfaces as a column."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    rows = gen.encode(
        [("insert", ("p%d" % i,), (i,), {"v1": i, "v2": "g"}) for i in range(6)]
    )
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    for gid, chunk in [(1, rows[:3]), (2, rows[3:])]:
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(
            os.path.join(src, f"generation={gid}")
        )
        _time.sleep(1.1)

    # partition discovery (with basePath) exposes the generation column
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("basePath", src)
        .load(src)
    )
    counts = stream.groupBy("generation").agg(F.count(F.lit(1)).alias("n"))
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName("gen_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["generation"]: r["n"] for r in spark.sql("select * from gen_counts").collect()}
    assert got == {1: 3, 2: 3}


# full: postimage replication pinned by j2/r8 gates + batch twin.
@pytest.mark.full
def test_replicator_postimage_mode_stream(spark, tmp_path):
    """K3 post-image mode end-to-end: op-9 full images applied as row
    overwrites, deletes still honored."""
    import copy

    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    rows = gen.encode(
        [
            ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
            ("update", ("a",), (1,), {"v1": 2}),
            ("insert", ("a",), (2,), {"v1": 9, "v2": "z"}),
            ("row_delete", ("a",), (2,)),
        ]
    )
    # synthesize the post-image for each delta write (full row at that time)
    snapshots = {1: {"v1": None, "v2": None}}
    images = []
    for r in rows:
        if r["cdc$operation"] == 2 and r["ck"] == 1:
            snapshots[1] = {"v1": r["v1"], "v2": r["v2"]}
        elif r["cdc$operation"] == 1:
            for c in ("v1", "v2"):
                if r[c] is not None:
                    snapshots[1][c] = r[c]
        elif r["cdc$operation"] == 2 and r["ck"] == 2:
            pass
        if r["cdc$operation"] in (1, 2):
            img = copy.deepcopy(r)
            img["cdc$operation"] = 9
            img["cdc$batch_seq_no"] = r["cdc$batch_seq_no"] + 1
            if img["ck"] == 1:
                img.update(snapshots[1])
            images.append(img)
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    spark.createDataFrame(rows + images, schema).coalesce(1).write.parquet(src)
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"), mode="postimage"
    )
    got = {r["ck"]: r for r in state.collect()}
    assert set(got) == {1}
    assert got[1]["v1"] == 2 and got[1]["v2"] == "x"


# full: extra-seed re-rolls of the multibatch matrix (representative kept).
@pytest.mark.full
@pytest.mark.parametrize("seed", [101, 202])
@pytest.mark.parametrize("table", ["tbl_multiple_clustering_keys", "tbl_lists"])
def test_replicator_multibatch_extra_seeds(spark, table, seed, tmp_path, target_bucket_bytes):
    """Extra fuzz seeds over the trickiest schemas (multi-ck range deletes,
    list timeuuid order) through the full streaming path, in several
    buckets as in ``test_replicator_multibatch``."""
    target_bucket_bytes(512)
    desc = FIXTURE_TABLES[table]
    rng = random.Random(seed)
    dml = _rand_dml(desc, rng, n=70)
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    _write_chunks(spark, build_cdc_log_schema(desc), rows, src, 3, rng, replay_frac=0.2)
    state = replicate_available_now(
        spark,
        src,
        build_cdc_log_schema(desc),
        desc,
        str(tmp_path / "work"),
        max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)


# full: bucket lifecycle edge of the vacuum family.
@pytest.mark.full
def test_replicator_bucket_removed_when_emptied(spark, tmp_path):
    """A batch that leaves a bucket empty must drop the bucket's manifest
    pointer (not leave a stale file reference). Deleting the only row
    leaves its row tombstone in the bucket; the bucket empties once the
    horizon (here the newest committed ``cdc$time``) passes the tombstone."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    # encode() returns (and keeps appending to) its internal row list —
    # snapshot the insert rows before encoding the delete
    ins = [dict(r) for r in gen.encode([("insert", ("solo",), (1,), {"v1": 1, "v2": "x"})])]
    schema = build_cdc_log_schema(desc)
    src1 = str(tmp_path / "src")
    _write_chunks(spark, schema, ins, src1, 1, random.Random(0))
    work = str(tmp_path / "work")
    state = replicate_available_now(spark, src1, schema, desc, work)
    assert state.count() == 1

    # second wave deletes the only row
    dels = gen.encode([("row_delete", ("solo",), (1,))])[len(ins):]
    _write_chunks(spark, schema, dels, src1, 1, random.Random(1))
    state2 = replicate_available_now(spark, src1, schema, desc, work)
    assert state2.count() == 0
    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"))
    assert list(sink._latest_manifest()["buckets"]) == ["0"]  # the tombstone

    # two later micro-batches that change no row, one file each (distinct
    # mtimes): after the second the tombstone is older than the horizon
    n = len(ins) + len(dels)
    later = gen.encode([("partition_delete", ("gone",)), ("partition_delete", ("gone",))])[n:]
    for row in later:
        time.sleep(1.1)
        spark.createDataFrame([dict(row)], schema).write.mode("append").parquet(src1)
    state3 = replicate_available_now(spark, src1, schema, desc, work, max_files_per_trigger=1)
    assert state3.count() == 0

    manifest = sink._latest_manifest()
    assert manifest["max_time_micros"] == gen._t  # the last batch committed
    assert manifest["buckets"] == {}  # pointer dropped, not stale
    assert sink.current_state(spark) is None or sink.current_state(spark).count() == 0


# full: session windows pinned by the events_sessionize gate;
# tumbling-window streaming representative kept.
@pytest.mark.full
def test_streaming_session_window_counts(spark, tmp_path):
    """Gap-based session windows over the change stream: bursts separated
    by more than the gap land in separate (wider-than-gap-spaced) session
    windows, and closed-session counts cover every change exactly once."""
    from scylla_cdc_java_spark.streaming import CDCStreamConsumer
    from scylla_cdc_java_spark.streaming.consumer import session_window_counts

    from datetime import timedelta

    from scylla_cdc_java_spark.functions.timeuuid import make_timeuuid, timeuuid_micros

    desc = FIXTURE_TABLES["tbl_simple"]
    # two bursts of inserts, 10 minutes apart, against a 30 s gap
    dml = [("insert", ("p",), (i,), {"v1": i, "v2": "x"}) for i in range(20)]
    rows = CdcLogGenerator(desc).encode(dml)
    order: list[str] = []
    for r in rows:
        if r["cdc$time"] not in order:
            order.append(r["cdc$time"])
    shift_us = {u: (0 if i < 12 else 600_000_000) for i, u in enumerate(order)}
    remap = {
        u: str(make_timeuuid(timeuuid_micros(u) + s, clock_seq_and_node=i))
        for i, (u, s) in enumerate(shift_us.items())
    }
    for r in rows:
        s = shift_us[r["cdc$time"]]
        r["cdc$time_ts"] = r["cdc$time_ts"] + timedelta(microseconds=s)
        r["cdc$time"] = remap[r["cdc$time"]]
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    consumer = (
        CDCStreamConsumer(spark)
        .with_source(src, schema)
        .with_confidence_window_ms(1000)
        .with_checkpoint(str(tmp_path / "ckpt"))
        .trigger_available_now()
    )
    counts = session_window_counts(consumer.changes(), gap_ms=30_000)
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select win.start as s, win.end as e, n_changes from sess_counts order by s"
    ).collect()
    # append mode emits only watermark-closed sessions: the first burst's
    # session must be present and complete; the trailing one may be open
    assert len(got) >= 1
    assert got[0]["n_changes"] == 12
    total = sum(r["n_changes"] for r in got)
    assert total <= len(rows)
