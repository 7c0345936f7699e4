"""The composed streaming story (gate: pipeline_stream_cdc_dedup) under
failure injection: multi-epoch CDC replication through mid-stream schema
evolution, into restart-spanning ingest-admission dedup — with a crash
torn between the index append and the signature-store append, which the
next run's reconcile must self-heal.

Also pins the round-6 regression the composed gate caught on its first
run: dedup keyed on a null-filled raw ``cdc$time`` column collapsed every
change in a stream sharing a ``batch_seq_no``.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from scylla_cdc_java_spark.model.schema import CdcTableDescriptor
from scylla_cdc_java_spark.operators.dedup import dedup_changes
from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup
from scylla_cdc_java_spark.sources.events_cdc import stream_id_expr
from scylla_cdc_java_spark.streaming.evolution import replicate_with_schema_evolution


def _mtime_gap():
    time.sleep(0.05)


def _docs_df(spark):
    """50 docs: unique texts, exact-dup pairs (cross parity), near-dup
    pairs, and sub-3-token shorts (incl. short exact dups — the banded
    path is structurally blind to them)."""
    rows = []
    for i in range(30):
        # disjoint per-doc token sets: no accidental near-dups
        rows.append((i, " ".join(f"tok{i}x{j}" for j in range(9)), "src0"))
    # exact dups of doc 3's text at ids 31 (odd) and 40 (even)
    rows.append((31, rows[3][1], "src1"))
    rows.append((40, rows[3][1], "src1"))
    # near dup of doc 5: one APPENDED token (shingle Jaccard 7/8 — high
    # enough that a 4-row band collides deterministically on this text)
    rows.append((33, rows[5][1] + " extra", "src1"))
    # shorts: a pair of identical 2-token docs (no shingles) + a unique one
    rows.append((44, "tiny doc", "src2"))
    rows.append((45, "tiny doc", "src2"))
    rows.append((47, "lone short", "src2"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _envelope(op: int, t_base: int):
    t = F.lit(t_base) + F.col("doc_id")
    return [
        stream_id_expr("doc_id", 16).alias("cdc$stream_id"),
        F.timestamp_micros(t).alias("cdc$time_ts"),
        F.lit(0).cast("int").alias("cdc$batch_seq_no"),
        F.lit(op).cast("byte").alias("cdc$operation"),
        F.lit(True).alias("cdc$end_of_batch"),
        F.lit(None).cast("long").alias("cdc$ttl"),
    ]


V1_DESC = CdcTableDescriptor(
    name="doc_state_v1",
    base_schema=T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    ),
    partition_keys=["doc_id"],
    clustering_keys=[],
)


def _run_pipeline(spark, docs, root: str, crash_torn_sigs: bool):
    """The full composed pipeline; with ``crash_torn_sigs`` the signature
    store is destroyed between the admission runs (the worst torn-write
    crash: index rows exist, no signature rows at all)."""
    src = os.path.join(root, "cdc")
    work = os.path.join(root, "work")
    ep1 = docs.select(*_envelope(2, 1_600_000_000_000_000), "doc_id", "text")
    ep2 = docs.where(F.col("doc_id") % 7 == 0).select(
        *_envelope(1, 1_700_000_000_000_000),
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "source",
    )
    ep1.write.parquet(src)
    replicate_with_schema_evolution(spark, src, V1_DESC, work)
    _mtime_gap()
    ep2.write.mode("append").parquet(src)
    state, desc = replicate_with_schema_evolution(spark, src, V1_DESC, work)
    assert desc.regular_columns == ["text", "source"]

    final = state.select("doc_id", "text", "source")
    dsrc = os.path.join(root, "ingest")
    idx = os.path.join(root, "index")
    ckpt = os.path.join(root, "ckpt")
    sig = idx.rstrip("/") + "__sigs"
    schema = "doc_id long, text string, source string"
    final.where(F.col("doc_id") % 2 == 0).write.parquet(dsrc)
    stream_incremental_dedup(spark, dsrc, idx, ckpt, schema=schema).awaitTermination()
    if crash_torn_sigs:
        shutil.rmtree(sig, ignore_errors=True)
    _mtime_gap()
    final.where(F.col("doc_id") % 2 == 1).write.mode("append").parquet(dsrc)
    stream_incremental_dedup(spark, dsrc, idx, ckpt, schema=schema).awaitTermination()
    return sorted(
        (r["doc_id"], r["text"], r["source"])
        for r in spark.read.parquet(idx).collect()
    )


# full: the crash-torn signature-store reconcile (~85 s); the lost-checkpoint
# and torn-sink contract tests (kept) pin the component behaviors.
@pytest.mark.full
def test_composed_pipeline_crash_torn_signature_store(spark, tmp_path):
    """A crash that lands the index append but loses the ENTIRE signature
    store must not change what the restarted pipeline admits: the
    reconcile stage re-signs every unsigned index row (sentinels for the
    short docs included) before batch 2's admission probes it."""
    docs = _docs_df(spark)
    clean = _run_pipeline(spark, docs, str(tmp_path / "clean"), crash_torn_sigs=False)
    torn = _run_pipeline(spark, docs, str(tmp_path / "torn"), crash_torn_sigs=True)
    assert torn == clean
    ids = [r[0] for r in clean]
    # doc 40 (even, batch 1) admitted the shared text first; its exact
    # twins 3 and 31 (odd, batch 2) must be rejected cross-batch via the
    # persisted content hashes
    assert 40 in ids and 3 not in ids and 31 not in ids
    # short exact dups: 44 (even) admitted in batch 1; twin 45 (odd)
    # must be rejected CROSS-batch by the stored content hash even though
    # sub-3-token docs never produce a banded signature; 47 unique
    assert 44 in ids and 45 not in ids and 47 in ids
    # near-dup 33 of doc 5 (both odd): within-batch banded loser
    assert 5 in ids and 33 not in ids
    # evolution: only doc_id % 7 == 0 rows carry source (post-ALTER writes)
    for doc_id, text, source in clean:
        assert (source is not None) == (doc_id % 7 == 0)
        assert text.endswith(" v2") == (doc_id % 7 == 0)


def test_torn_sink_file_visible_to_listing_but_not_manifest(spark):
    """The crash gate's injection twin: an uncommitted part-file dropped
    into a streaming parquet sink IS real data on disk (a glob-based
    reader counts its rows), but Spark's batch read of the sink goes
    through _spark_metadata and must NOT see it — the exactly-once
    contract pipeline_stream_crash_tumbling hash-gates end-to-end."""
    import glob
    import shutil

    from scylla_cdc_java_spark.queries import QUERIES

    df = QUERIES["pipeline_stream_crash_tumbling"][0](spark, "/root/testdata/sf0.001")
    manifest_rows = df.count()
    out = None
    # the gate's sink dir: recover it from the returned frame's files
    files = [f for f in df.inputFiles() if "/windows/" in f]
    assert files, "expected the sink dir in the plan's input files"
    out = files[0].split("/windows/")[0].replace("file:", "") + "/windows"
    torn = glob.glob(out + "/part-99999-torn-crash*")
    assert torn, "the torn file must exist on disk"
    listing = spark.read.format("parquet").load(torn[0])
    assert listing.count() > 0  # the poison is real rows
    # a listing-based read of the whole dir would overcount
    import duckdb

    raw = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/part-*.parquet')").fetchone()[0]
    sentinel_rows = spark.read.parquet(out).count() - manifest_rows
    assert raw > manifest_rows + sentinel_rows


def test_vanished_source_file_unrecoverable_by_naive_reread(spark):
    """The source-vanish gate's fault twin: after the gate runs, chunk 1's
    data file is GONE from the source directory — a naive engine that
    re-derives state by re-reading the source (instead of trusting its
    checkpoint + committed sink) loses every chunk-1 row. The gate's own
    manifest-read result keeps them (hash-gated against the full-data
    oracle)."""
    from scylla_cdc_java_spark.queries import QUERIES
    from scylla_cdc_java_spark.sources.tables import load_table

    df = QUERIES["pipeline_stream_source_vanish"][0](spark, "/root/testdata/sf0.001")
    total_events = load_table(spark, "/root/testdata/sf0.001", "events").count()
    engine_events = df.agg({"n_events": "sum"}).first()[0]
    assert engine_events == total_events  # nothing lost through the fault
    src_files = [f for f in df.inputFiles() if "/windows/" in f]
    src = src_files[0].split("/windows/")[0].replace("file:", "") + "/events"
    naive = spark.read.parquet(src)
    # the source now holds ONLY chunk 2 (+ sentinel): a re-read loses data
    assert naive.count() < total_events
    assert naive.where(naive.event_type != "__sentinel").count() < total_events


def test_t7_added_table_must_backfill_early_windows(spark, tmp_path):
    """The T7 gate's fault twin (Worker.addTasks, Worker.java:192-217): a
    table whose tasks join a RUNNING group mid-generation must be
    consumed from its GENERATION START — a naive plan that only ingests
    the added table's post-addition files loses every user whose final
    state was written in the early window. Replays the gate's table-B
    split and shows the naive single-epoch consumer diverges from the
    full LWW truth the gate hash-matches."""
    from scylla_cdc_java_spark.sources.events_cdc import USER_STATE_DESC, events_as_cdc
    from scylla_cdc_java_spark.sources.tables import load_table
    from scylla_cdc_java_spark.streaming.replicator import replicate_available_now

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").where(F.col("user_id") % 2 == 1)
    cdc_b = events_as_cdc(spark, sf, events=ev)
    # the gate's table-B split: by ARRIVAL (event_id), so ~2/3 of users'
    # FINAL writes live in the pre-addition files
    early = F.col("cdc$batch_seq_no") % 3 != 0
    src = str(tmp_path / "src_b")
    cdc_b.where(early).write.parquet(src)
    schema = spark.read.parquet(src).schema
    _mtime_gap()
    cdc_b.where(~early).write.mode("append").parquet(src)

    # full truth: LWW over the whole log (what the gate's restarted group
    # produces for table B, hash-gated against the oracle)
    full = replicate_available_now(
        spark, src, schema, USER_STATE_DESC, str(tmp_path / "w_full")
    )
    # the naive plan: only the post-addition files are ever offered
    src_late = str(tmp_path / "src_late")
    cdc_b.where(~early).write.parquet(src_late)
    naive = replicate_available_now(
        spark, src_late, schema, USER_STATE_DESC, str(tmp_path / "w_naive")
    )
    full_state = {r["user_id"]: (r["value"], r["props"]) for r in full.collect()}
    naive_state = {r["user_id"]: (r["value"], r["props"]) for r in naive.collect()}
    stale_or_missing = {
        u for u, s in full_state.items() if naive_state.get(u) != s
    }
    assert stale_or_missing, (
        "fixture defect: no user's final state depends on the early files"
    )


def test_t7_null_key_users_route_to_exactly_one_table(spark):
    """Pin of the round-10 hostile find: the T7 gate's parity split must
    partition EVERY row — a NULL user_id is a legitimate LWW group (the
    r08 NULL-key lesson) and belongs to exactly one table (B, mirroring
    the oracle's CASE ELSE), not silently to neither."""
    import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, None, datetime.datetime(2024, 1, 10), "view", 2.0, '{"n":2}'),
        (2, None, datetime.datetime(2024, 1, 20), "view", 3.0, '{"n":3}'),
        (3, 4, datetime.datetime(2024, 1, 10), "view", 1.0, None),
        (4, 5, datetime.datetime(2024, 1, 10), "view", 1.5, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    a_filter = F.col("user_id") % 2 == 0
    b_filter = (F.col("user_id") % 2 == 1) | F.col("user_id").isNull()
    a_ids = {r["event_id"] for r in df.where(a_filter).collect()}
    b_ids = {r["event_id"] for r in df.where(b_filter).collect()}
    assert a_ids == {3}
    assert b_ids == {1, 2, 4}
    assert a_ids | b_ids == {1, 2, 3, 4} and not (a_ids & b_ids)


def test_replaced_source_file_poison_on_disk_but_not_ingested(spark):
    """The source-replace gate's fault twin: the replacement content (odd
    event_ids) IS what a naive directory read returns for chunk1.parquet,
    but the engine's first-writer-wins seen-file log ingested the even
    half — so the committed result counts evens, never odds."""
    from scylla_cdc_java_spark.queries import QUERIES
    from scylla_cdc_java_spark.sources.tables import epoch_micros, load_table

    from pyspark.sql import functions as F

    df = QUERIES["pipeline_stream_source_replace"][0](spark, "/root/testdata/sf0.001")
    src_files = [f for f in df.inputFiles() if "/windows/" in f]
    src = src_files[0].split("/windows/")[0].replace("file:", "") + "/events"
    on_disk = spark.read.parquet(f"{src}/chunk1.parquet")
    # poison is real: the file on disk is entirely the ODD half
    assert on_disk.count() > 0
    assert on_disk.where(F.col("event_id") % 2 == 0).count() == 0
    # ...but the engine's totals are the EVEN half + chunk 2
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    split_us = 1705363200000000  # 2024-01-16T00:00:00Z
    expected = ev.where(
        (epoch_micros(ev, "ts") >= split_us) | (F.col("event_id") % 2 == 0)
    ).count()
    assert df.agg({"n_events": "sum"}).first()[0] == expected


def test_stream_dedup_watermark_duplicates_are_real(spark, tmp_path):
    """The dedup gate's fault twin: the SAME planted feed (intra-batch
    doubles + cross-restart re-deliveries) run WITHOUT
    dropDuplicatesWithinWatermark emits strictly more rows than the
    logical event count — proving the gate's DISTINCT-matching result is
    the dedup operator's doing, not an accidentally-clean feed."""
    from scylla_cdc_java_spark.queries import QUERIES
    from scylla_cdc_java_spark.sources.tables import load_table

    df = QUERIES["pipeline_stream_dedup_watermark"][0](spark, "/root/testdata/sf0.001")
    total = load_table(spark, "/root/testdata/sf0.001", "events").count()
    assert df.agg({"n_events": "sum"}).first()[0] == total
    src_files = [f for f in df.inputFiles() if "/deduped/" in f]
    src = src_files[0].split("/deduped/")[0].replace("file:", "") + "/events"
    raw = spark.read.parquet(src)
    assert raw.count() > total  # the planted duplicates are real rows
    # and they are genuine duplicates by key, not new events
    assert raw.select("event_id").distinct().count() == total


def test_file_vanished_between_plan_and_execute_semantics(spark, tmp_path):
    """The OTHER source-vanish timing — a file deleted after the scan is
    PLANNED but before it executes (the crash window where a streaming
    restart replays an offset whose file is gone): the default is a loud
    FileNotFound failure (no silent loss), and
    `spark.sql.files.ignoreMissingFiles=true` is the documented recovery
    knob that completes the read minus the vanished file — explicit,
    bounded loss instead of a wedged stream. Pins both behaviors."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    d = str(tmp_path / "vanish_batch")
    spark.range(100).withColumn("part", (F.col("id") % 2).cast("int")).write.partitionBy(
        "part"
    ).parquet(d)
    df = spark.read.parquet(d)  # plan over the current listing
    victim_dir = os.path.join(d, "part=1")
    for f in os.listdir(victim_dir):
        if f.endswith(".parquet"):
            os.remove(os.path.join(victim_dir, f))
    with _pytest.raises(Exception, match="(?i)file.*(not exist|deleted|notfound)"):
        df.count()
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        assert spark.read.parquet(d).count() == 50  # the surviving half
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")


def test_lost_checkpoint_is_swallowed_by_manifest_sink_not_duplicated(spark, tmp_path):
    """CHECKPOINT LOSS semantics — the dual of the source-fault gates:
    re-running a stream with a FRESH checkpoint into an EXISTING parquet
    sink does NOT double-count (the naive fear) and does NOT append — the
    sink's _spark_metadata batch-id log already contains the new query's
    batch ids, so its writes are silently invisible to manifest reads.
    Recovery from a lost checkpoint therefore requires a fresh SINK
    directory as well; pinning this stops a 'just delete the checkpoint'
    runbook from silently freezing a pipeline's output."""
    import glob
    import os

    from pyspark.sql import functions as F

    from scylla_cdc_java_spark.pipeline.sessions import stream_tumbling_agg

    tmp = str(tmp_path)
    src, out = os.path.join(tmp, "src"), os.path.join(tmp, "out")
    schema = "event_id long, event_type string, ts timestamp, value double"
    df = spark.createDataFrame(
        [
            (1, "a", "2024-01-01 00:00:00", 1.0),
            (2, "b", "2024-01-01 01:00:00", 2.0),
            (9, "__sentinel", "2024-02-01 00:00:00", 0.0),
        ],
        "event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(src)
    stream_tumbling_agg(
        spark, src, out, os.path.join(tmp, "ck1"), schema, window_s=86400
    ).awaitTermination()
    first = spark.read.parquet(out).count()
    assert first == 2
    # "recovery" with a fresh checkpoint into the SAME sink
    stream_tumbling_agg(
        spark, src, out, os.path.join(tmp, "ck2"), schema, window_s=86400
    ).awaitTermination()
    assert spark.read.parquet(out).count() == first  # no duplication...
    # ...but the re-run DID write data files — they are manifest-invisible
    assert len(glob.glob(os.path.join(out, "part-*"))) > 1
    # a fresh sink + fresh checkpoint is the correct recovery
    out2 = os.path.join(tmp, "out2")
    stream_tumbling_agg(
        spark, src, out2, os.path.join(tmp, "ck3"), schema, window_s=86400
    ).awaitTermination()
    assert spark.read.parquet(out2).count() == first


def test_dedup_changes_ignores_null_raw_time_column(spark):
    """Regression (round 6): a change frame read under the descriptor's
    wire schema carries an all-NULL ``cdc$time`` string column; dedup
    must key on the derived event time, not the null column — otherwise
    every change in a stream sharing a batch_seq_no collapses to one."""
    n = 40
    df = spark.range(n).select(
        F.lit(bytes(16)).alias("cdc$stream_id"),
        F.lit(None).cast("string").alias("cdc$time"),
        F.timestamp_micros(F.lit(1_600_000_000_000_000) + F.col("id")).alias(
            "cdc$time_ts"
        ),
        F.lit(0).cast("int").alias("cdc$batch_seq_no"),
        F.col("id").alias("doc_id"),
    )
    assert dedup_changes(df).count() == n
    # true redeliveries (same stream, time, seq) still collapse
    assert dedup_changes(df.unionAll(df)).count() == n


def test_dedup_changes_refuses_underivable_change_time(spark):
    """Regression (round-6 advisory): a frame with NEITHER a usable
    ``cdc$time`` NOR a ``cdc$time_ts`` has no ChangeId identity;
    ``dropDuplicates`` on the all-NULL derived key would silently
    collapse every change sharing (stream, seq) into one. The guard must
    fail the job instead."""
    import pytest

    n = 5
    df = spark.range(n).select(
        F.lit(bytes(16)).alias("cdc$stream_id"),
        F.lit(None).cast("string").alias("cdc$time"),
        F.lit(0).cast("int").alias("cdc$batch_seq_no"),
        F.col("id").alias("doc_id"),
    )
    with pytest.raises(Exception, match="NULL ChangeId"):
        dedup_changes(df).count()
