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
def test_replicator_multibatch(spark, table, tmp_path):
    """Full pipeline over several microbatches, with cross-batch redelivery
    (the at-least-once path through the seeded incremental apply)."""
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
        n_buckets=4,
        max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)


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
        MultiTableConsumer(spark, str(tmp_path / "group"), n_buckets=4)
        .add_tables(specs)
        .replicate_available_now()
    )
    for name, src, desc in specs:
        single = replicate_available_now(
            spark, src, build_cdc_log_schema(desc), desc,
            str(tmp_path / "single" / name), n_buckets=4,
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
    replicate_available_now(spark, src, schema, desc, work, n_buckets=4)

    # second wave: new changes plus redeliveries of already-applied ones
    _write_chunks(spark, schema, rows[cut:], src, 2, rng)
    replayed = [dict(r) for r in rows[:cut] if rng.random() < 0.2]
    if replayed:
        spark.createDataFrame(replayed, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = replicate_available_now(spark, src, schema, desc, work, n_buckets=4)
    _assert_state_matches(desc, state, dml)


def test_streaming_window_counts_and_dedup(spark, tmp_path):
    """Smoke: watermarked tumbling-window aggregation (T1/T2) and
    dropDuplicatesWithinWatermark (P2) run as a real stream."""
    from scylla_cdc_java_spark.streaming import CDCStreamConsumer, tumbling_window_counts

    desc = FIXTURE_TABLES["tbl_simple"]
    dml = [("insert", ("p%d" % (i % 3),), (i,), {"v1": i, "v2": "x"}) for i in range(30)]
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    rng = random.Random(3)
    _write_chunks(spark, schema, rows, src, 2, rng, replay_frac=0.3)

    consumer = (
        CDCStreamConsumer(spark)
        .with_source(src, schema)
        .with_confidence_window_ms(1000)
        .with_checkpoint(str(tmp_path / "ckpt"))
        .trigger_available_now()
    )
    counts = tumbling_window_counts(consumer.changes(), window_ms=60_000)
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
    # dedup within watermark must not overcount; closed windows only, so
    # the final (unclosed) window's rows may be missing from the memory sink
    assert total is None or total <= len(rows)


def test_range_delete_pairing_across_batches(spark, tmp_path):
    """J1 keyed state: a left bound in batch 1 pairs with its right bound
    arriving in batch 2 — impossible for the batch lead() analog."""
    import os
    import time as _time

    from scylla_cdc_java_spark.streaming import pair_range_deletes_stream

    desc = FIXTURE_TABLES["tbl_multiple_clustering_keys"]
    dml = [
        *[("insert", ("p",), (i, j), {"v": i * 10 + j}) for i in range(2) for j in range(2)],
        ("range_delete", ("p",), ((0, 0), True), ((1, None), False)),
        ("range_delete", ("q",), ((2, None), False), ((4, None), True)),
    ]
    rows = CdcLogGenerator(desc).encode(dml)
    # split so each range delete's left bound lands in an earlier file than
    # its right bound (bounds are the last 4 rows: L1 R1 L2 R2)
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, chunk in enumerate([rows[:-3], rows[-3:-1], rows[-1:]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    stream = spark.readStream.schema(schema).format("parquet").option(
        "maxFilesPerTrigger", 1
    ).load(src)
    paired = pair_range_deletes_stream(stream, desc)
    q = (
        paired.writeStream.outputMode("append")
        .format("memory")
        .queryName("paired_rd")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["pk"], r["left_ck1"], r["left_ck2"], r["right_ck1"], r["right_ck2"],
         r["left_inclusive"], r["right_inclusive"])
        for r in spark.sql("select * from paired_rd").collect()
    }
    assert got == {
        ("p", 0, 0, 1, None, True, False),
        ("q", 2, None, 4, None, False, True),
    }


# full: cross-batch pairing representative kept = range_delete variant;
# postimage semantics pinned by the j2/r8 oracle gates.
@pytest.mark.full
def test_postimage_pairing_across_batches(spark, tmp_path):
    """J2 keyed state: op-kind remembered across microbatch boundary."""
    import copy
    import os
    import time as _time

    from scylla_cdc_java_spark.streaming import pair_postimages_stream

    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    rows = gen.encode(
        [
            ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
            ("update", ("a",), (1,), {"v1": 2}),
        ]
    )
    images = []
    for r in rows:
        img = copy.deepcopy(r)
        img["cdc$operation"] = 9
        img["cdc$batch_seq_no"] = r["cdc$batch_seq_no"] + 1
        images.append(img)
    schema = build_cdc_log_schema(desc)
    src = str(tmp_path / "src")
    os.makedirs(src)
    # delta rows in batch 1, their post-images in batch 2
    for chunk in ([rows[0], images[0], rows[1]], [images[1]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    stream = spark.readStream.schema(schema).format("parquet").option(
        "maxFilesPerTrigger", 1
    ).load(src)
    tagged = pair_postimages_stream(stream, desc)
    q = (
        tagged.writeStream.outputMode("append")
        .format("memory")
        .queryName("tagged_pi")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["pk"], r["ck"], r["stmt_kind"]) for r in spark.sql("select * from tagged_pi").collect()
    )
    assert got == [("a", 1, 1), ("a", 1, 2)]


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

    sink = ReplicatorSink(desc, str(tmp_path / "state"), n_buckets=2)
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
    sink = ReplicatorSink(desc, str(tmp_path / "state"), n_buckets=2)
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


def test_replicator_schema_evolution_add_and_drop(spark, tmp_path):
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
    g1 = CdcLogGenerator(v1)
    sink1 = ReplicatorSink(v1, state_dir, n_buckets=4)
    sink1(
        g1.spark_df(
            spark,
            [("insert", ("a",), (1,), {"v1": 10}), ("insert", ("b",), (1,), {"v1": 20})],
            shuffle=False,
        ),
        0,
    )

    # restart with the column added; log times continue after batch 1
    g2 = CdcLogGenerator(v2)
    g2._t = g1._t
    sink2 = ReplicatorSink(v2, state_dir, n_buckets=4)
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
        for r in sink2.current_state(spark).collect()
    }
    assert got == {("a", 1): (10, None), ("a", 2): (11, "x"), ("b", 1): (20, "y")}

    # restart again with v1 dropped; untouched buckets also stop exposing it
    g3 = CdcLogGenerator(v3)
    g3._t = g2._t
    sink3 = ReplicatorSink(v3, state_dir, n_buckets=4)
    sink3(
        g3.spark_df(spark, [("insert", ("c",), (1,), {"v2": "z"})], shuffle=False), 2
    )
    state3 = sink3.current_state(spark)
    assert "v1" not in state3.columns
    got3 = {(r["pk"], r["ck"]): r["v2"] for r in state3.collect()}
    assert got3 == {("a", 1): None, ("a", 2): "x", ("b", 1): "y", ("c", 1): "z"}


def test_conform_state_rejects_key_changes(spark):
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import (
        CdcTableDescriptor,
        conform_state,
        descriptor_diff,
    )

    desc = CdcTableDescriptor(
        name="t",
        base_schema=T.StructType(
            [T.StructField("pk", T.StringType()), T.StructField("v", T.IntegerType())]
        ),
        partition_keys=["pk"],
    )
    state = spark.createDataFrame([(1, 2)], "other string, v int")
    with pytest.raises(ValueError, match="primary-key"):
        conform_state(state, desc)
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
        n_buckets=4, max_files_per_trigger=1,
    )
    before = sorted(_canon(tuple(r)) for r in state.collect())

    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"), n_buckets=4)
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
        n_buckets=4, max_files_per_trigger=1,
    )
    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"), n_buckets=4)
    version = sink._latest_manifest()["version"]
    torn = os.path.join(sink.state_dir, f"manifest-{version + 1}.json.tmp-1a2b3c4d")
    with open(torn, "w") as fh:
        fh.write('{"version": ')  # the crash cut the temp write short too

    removed = sink.vacuum(keep_versions=1)
    assert torn in removed
    assert not os.path.exists(torn)
    assert sink._latest_manifest()["version"] == version
    _assert_state_matches(desc, sink.current_state(spark), dml)


def _bucket_files(sink, manifest):
    """bucket -> the parquet data files its manifest directory holds."""
    out = {}
    for b, rel in manifest["buckets"].items():
        d = os.path.join(sink.state_dir, rel)
        out[b] = [f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")]
    return out


def test_replicator_writes_one_file_per_bucket(spark, tmp_path):
    """Every bucket directory the manifest points at holds exactly one
    parquet file — after several deduped micro-batches (AQE is off inside
    a stream, and there are more buckets than shuffle partitions) and
    after a full ``conform_snapshot`` rewrite — and the state is intact."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(23)
    dml = [
        ("insert", ("k%d" % rng.randrange(80),), (rng.randrange(3),), {"v1": i, "v2": "x"})
        for i in range(200)
    ]
    dml += [("row_delete", ("k%d" % rng.randrange(80),), (rng.randrange(3),)) for _ in range(20)]
    rows = CdcLogGenerator(desc).encode(dml)
    src = str(tmp_path / "src")
    schema = build_cdc_log_schema(desc)
    _write_chunks(spark, schema, rows, src, 3, rng, replay_frac=0.2)
    n_buckets = 16
    assert n_buckets > int(spark.conf.get("spark.sql.shuffle.partitions"))
    state = replicate_available_now(
        spark, src, schema, desc, str(tmp_path / "work"),
        n_buckets=n_buckets, max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)

    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"), n_buckets=n_buckets)
    manifest = sink._latest_manifest()
    assert manifest["version"] >= 1  # at least two micro-batches committed
    files = _bucket_files(sink, manifest)
    assert len(files) > 8
    assert all(len(f) == 1 for f in files.values()), files

    assert sink.conform_snapshot(spark)
    manifest = sink._latest_manifest()
    files = _bucket_files(sink, manifest)
    assert all(rel.startswith(f"v{manifest['version']}/") for rel in manifest["buckets"].values())
    assert all(len(f) == 1 for f in files.values()), files
    _assert_state_matches(desc, sink.current_state(spark), dml)


def test_replicator_call_lists_paths_in_driver(spark, tmp_path):
    """A sink call that reads more bucket directories than Spark's default
    parallel-listing threshold (32) lists them in the driver: no
    ``Listing leaf files`` job runs during the streamed call."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    desc = FIXTURE_TABLES["tbl_simple"]
    schema = build_cdc_log_schema(desc)
    gen = CdcLogGenerator(desc)
    # encode() returns (and keeps appending to) its internal row list
    rows = list(gen.encode(
        [("insert", ("k%d" % i,), (0,), {"v1": i, "v2": "a"}) for i in range(400)]
    ))
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    _write_chunks(spark, schema, rows, src, 1, random.Random(0))
    replicate_available_now(spark, src, schema, desc, work, n_buckets=64)

    def jobs():
        # (id, description) of every job in the status store (UI off too)
        seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        out = {}
        for i in range(seq.size()):
            j = seq.apply(i)
            out[j.jobId()] = j.description().get() if j.description().isDefined() else ""
        return out

    before = jobs()
    updates = gen.encode(
        [("insert", ("k%d" % i,), (0,), {"v1": -i, "v2": "b"}) for i in range(0, 400, 3)]
    )[len(rows):]
    _write_chunks(spark, schema, updates, src, 1, random.Random(1))
    replicate_available_now(spark, src, schema, desc, work, n_buckets=64)
    new_jobs = {i: d for i, d in jobs().items() if i not in before}

    sink = ReplicatorSink(desc, os.path.join(work, "state"), n_buckets=64)
    last = sink._latest_manifest()
    assert last["version"] == 1  # one call for the second wave
    assert sum(rel.startswith("v1/") for rel in last["buckets"].values()) > 32
    assert new_jobs
    listing = [d for d in new_jobs.values() if d.startswith("Listing leaf files")]
    assert not listing, listing


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
        spark, src, schema, desc, str(tmp_path / "work"), mode="postimage", n_buckets=2
    )
    got = {r["ck"]: r for r in state.collect()}
    assert set(got) == {1}
    assert got[1]["v1"] == 2 and got[1]["v2"] == "x"


# full: extra-seed re-rolls of the multibatch matrix (representative kept).
@pytest.mark.full
@pytest.mark.parametrize("seed", [101, 202])
@pytest.mark.parametrize("table", ["tbl_multiple_clustering_keys", "tbl_lists"])
def test_replicator_multibatch_extra_seeds(spark, table, seed, tmp_path):
    """Extra fuzz seeds over the trickiest schemas (multi-ck range deletes,
    list timeuuid order) through the full streaming path."""
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
        n_buckets=4,
        max_files_per_trigger=1,
    )
    _assert_state_matches(desc, state, dml)


# full: bucket lifecycle edge of the vacuum family.
@pytest.mark.full
def test_replicator_bucket_removed_when_emptied(spark, tmp_path):
    """A batch that deletes every row of a bucket must drop the bucket's
    manifest pointer (not leave a stale file reference)."""
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
    state = replicate_available_now(spark, src1, schema, desc, work, n_buckets=2)
    assert state.count() == 1

    # second wave deletes the only row
    dels = gen.encode([("row_delete", ("solo",), (1,))])[len(ins):]
    _write_chunks(spark, schema, dels, src1, 1, random.Random(1))
    state2 = replicate_available_now(spark, src1, schema, desc, work, n_buckets=2)
    assert state2.count() == 0

    sink = ReplicatorSink(desc, str(tmp_path / "work" / "state"), n_buckets=2)
    manifest = sink._latest_manifest()
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
