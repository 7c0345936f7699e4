"""Mid-stream schema evolution (ALTER TABLE while replication is live).

Streaming analog of the reference's AlterTableBase integration family
(scylla-cdc-lib/src/test/.../AlterTableBase.java:28): columns are added
and dropped *between parquet files of the same source directory*, and the
engine — not the user — detects the new column signature, evolves the
descriptor (Driver3SchemaFactory.java:73-153 analog), and reconciles both
the incoming log frames and the already-materialized state.
"""

from __future__ import annotations

import time
from dataclasses import replace

import pytest
from pyspark.sql import types as T

from scylla_cdc_java_spark.model.schema import (
    CdcTableDescriptor,
    build_cdc_log_schema,
)
from scylla_cdc_java_spark.streaming.evolution import (
    conform_changes,
    descriptor_from_log_schema,
    load_descriptor,
    replicate_with_schema_evolution,
    save_descriptor,
)
from scylla_cdc_java_spark.testing import CdcLogGenerator

S, I = T.StringType(), T.IntegerType()


def _desc_of(*fields, nonfrozen=(), lists=()):
    return CdcTableDescriptor(
        name="tbl_midstream_evo",
        base_schema=T.StructType([T.StructField(n, t) for n, t in fields]),
        partition_keys=["pk"],
        clustering_keys=["ck"],
        non_frozen_collections=list(nonfrozen),
        list_columns=list(lists),
    )


V1 = _desc_of(("pk", S), ("ck", I), ("v1", I))
V2 = _desc_of(("pk", S), ("ck", I), ("v1", I), ("v2", S))  # ALTER ADD v2
V3 = _desc_of(("pk", S), ("ck", I), ("v2", S))  # ALTER DROP v1


def test_conform_changes_null_fills_added_and_drops_removed(spark):
    g = CdcLogGenerator(V1)
    old_frame = g.spark_df(
        spark, [("insert", ("a",), (1,), {"v1": 10})], shuffle=False
    )
    up = conform_changes(old_frame, V2)
    assert "v2" in up.columns and "cdc$deleted_v2" in up.columns
    row = up.collect()[0]
    assert row["v1"] == 10 and row["v2"] is None and row["cdc$deleted_v2"] is None

    g2 = CdcLogGenerator(V2)
    new_frame = g2.spark_df(
        spark, [("insert", ("a",), (1,), {"v1": 1, "v2": "x"})], shuffle=False
    )
    down = conform_changes(new_frame, V3)
    assert "v1" not in down.columns and "cdc$deleted_v1" not in down.columns
    assert down.collect()[0]["v2"] == "x"


def test_conform_changes_requires_identity_columns(spark):
    df = spark.createDataFrame([(1,)], "v1 int")
    with pytest.raises(ValueError, match="identity"):
        conform_changes(df, V1)


def test_descriptor_round_trips_through_log_schema():
    desc = _desc_of(
        ("pk", S),
        ("ck", I),
        ("tags", T.ArrayType(I)),
        ("hist", T.ArrayType(I)),
        ("note", S),
        nonfrozen=["tags", "hist"],
        lists=["hist"],
    )
    log = build_cdc_log_schema(desc)
    back = descriptor_from_log_schema(log, desc)
    assert back.base_schema == desc.base_schema
    assert back.non_frozen_collections == desc.non_frozen_collections
    assert back.list_columns == desc.list_columns


def test_descriptor_from_log_schema_detects_add_and_drop():
    evolved = descriptor_from_log_schema(build_cdc_log_schema(V2), V1)
    assert evolved.regular_columns == ["v1", "v2"]
    assert evolved.base_field("v2").dataType == S
    shrunk = descriptor_from_log_schema(build_cdc_log_schema(V3), evolved)
    assert shrunk.regular_columns == ["v2"]


def test_descriptor_save_load_keeps_every_field(tmp_path):
    """The schema cache stores every descriptor field: a tablets table
    stays a tablets table across a restart."""
    desc = replace(
        _desc_of(
            ("pk", S), ("ck", I), ("tags", T.ArrayType(I)), nonfrozen=["tags"], lists=["tags"]
        ),
        uses_tablets=True,
    )
    path = str(tmp_path / "descriptor.json")
    save_descriptor(desc, path)
    assert load_descriptor(path) == desc


def test_descriptor_from_log_schema_keeps_uses_tablets():
    """An evolved descriptor keeps the base's replication mode."""
    evolved = descriptor_from_log_schema(
        build_cdc_log_schema(V2), replace(V1, uses_tablets=True)
    )
    assert evolved.uses_tablets and evolved.regular_columns == ["v1", "v2"]


def test_descriptor_from_log_schema_rejects_missing_pk():
    with pytest.raises(ValueError, match="primary-key"):
        descriptor_from_log_schema(
            T.StructType([T.StructField("pk", S), T.StructField("v1", I)]), V1
        )


def _append(spark, gen, dml, src):
    gen.spark_df(spark, dml, shuffle=False).coalesce(1).write.mode("append").parquet(
        src
    )
    time.sleep(0.05)  # distinct mtimes: signature detection orders by mtime


def test_replicate_evolves_across_alter_add_and_drop(spark, tmp_path):
    """Three schema epochs land in one source dir; the user always passes
    the ORIGINAL descriptor and the engine evolves it per epoch."""
    src, work = str(tmp_path / "src"), str(tmp_path / "work")

    g1 = CdcLogGenerator(V1)
    _append(
        spark,
        g1,
        [("insert", ("a",), (1,), {"v1": 10}), ("insert", ("b",), (1,), {"v1": 20})],
        src,
    )
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1"]
    assert {(r["pk"], r["ck"], r["v1"]) for r in state.collect()} == {
        ("a", 1, 10),
        ("b", 1, 20),
    }

    # ALTER ADD v2 mid-stream: new files carry the wider signature
    g2 = CdcLogGenerator(V2)
    g2._t = g1._t
    _append(
        spark,
        g2,
        [
            ("insert", ("a",), (2,), {"v1": 11, "v2": "x"}),
            ("update", ("b",), (1,), {"v2": "y"}),
        ],
        src,
    )
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"]
    got = {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state.collect()}
    assert got == {("a", 1): (10, None), ("a", 2): (11, "x"), ("b", 1): (20, "y")}

    # ALTER DROP v1: the materialized state sheds the column everywhere
    g3 = CdcLogGenerator(V3)
    g3._t = g2._t
    _append(spark, g3, [("insert", ("c",), (1,), {"v2": "z"})], src)
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v2"]
    assert "v1" not in state.columns
    got3 = {(r["pk"], r["ck"]): r["v2"] for r in state.collect()}
    assert got3 == {("a", 1): None, ("a", 2): "x", ("b", 1): "y", ("c", 1): "z"}


# full: heterogeneous-file single-pass variant of the kept evolution path.
@pytest.mark.full
def test_replicate_single_pass_over_heterogeneous_files(spark, tmp_path):
    """Both epochs already present at first call: one pass reads pre-ALTER
    files under the evolved schema (parquet null-fills the new column)."""
    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    g1 = CdcLogGenerator(V1)
    _append(spark, g1, [("insert", ("a",), (1,), {"v1": 10})], src)
    g2 = CdcLogGenerator(V2)
    g2._t = g1._t
    _append(spark, g2, [("insert", ("b",), (1,), {"v1": 20, "v2": "w"})], src)

    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"]
    got = {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state.collect()}
    assert got == {("a", 1): (10, None), ("b", 1): (20, "w")}


# full: multi-table fan-out of the single-table evolution path (kept).
@pytest.mark.full
def test_multi_table_consumer_group(spark, tmp_path):
    """CDCConsumer.Builder.addTables analog: two tables under one
    lifecycle, concurrent AvailableNow catch-up, independent states."""
    from scylla_cdc_java_spark.streaming.multi import MultiTableConsumer

    d1 = _desc_of(("pk", S), ("ck", I), ("v1", I))
    d2 = CdcTableDescriptor(
        name="tbl_b",
        base_schema=T.StructType(
            [T.StructField("pk", S), T.StructField("note", S)]
        ),
        partition_keys=["pk"],
        clustering_keys=[],
    )
    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    g1, g2 = CdcLogGenerator(d1), CdcLogGenerator(d2)
    _append(
        spark,
        g1,
        [("insert", ("a",), (1,), {"v1": 1}), ("row_delete", ("a",), (1,)),
         ("insert", ("b",), (2,), {"v1": 7})],
        src1,
    )
    _append(
        spark,
        g2,
        [("insert", ("x",), (), {"note": "n1"}), ("update", ("x",), (), {"note": "n2"})],
        src2,
    )
    group = (
        MultiTableConsumer(spark, str(tmp_path / "work"), n_buckets=4)
        .add_tables([("t1", src1, d1), ("t2", src2, d2)])
    )
    states = group.replicate_available_now()
    assert {(r["pk"], r["ck"], r["v1"]) for r in states["t1"].collect()} == {("b", 2, 7)}
    assert {(r["pk"], r["note"]) for r in states["t2"].collect()} == {("x", "n2")}

    # incremental second pass over the same work root picks up new changes
    _append(spark, g1, [("update", ("b",), (2,), {"v1": 8})], src1)
    states = group.replicate_available_now()
    assert {(r["pk"], r["ck"], r["v1"]) for r in states["t1"].collect()} == {("b", 2, 8)}


def test_descriptor_persisted_and_resumed(spark, tmp_path):
    """The evolved descriptor is cached in the work dir (schema-cache
    analog of Driver3SchemaFactory): a later run resumes from it even if
    the source dir no longer holds the old-signature files."""
    import shutil

    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    g1 = CdcLogGenerator(V1)
    _append(spark, g1, [("insert", ("a",), (1,), {"v1": 10})], src)
    g2 = CdcLogGenerator(V2)
    g2._t = g1._t
    _append(spark, g2, [("insert", ("b",), (1,), {"v1": 20, "v2": "w"})], src)
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"]

    stored = load_descriptor(f"{work}/descriptor.json")
    assert stored is not None and stored.regular_columns == ["v1", "v2"]

    # archive the source entirely; a fresh call with the ORIGINAL base
    # descriptor resumes under the stored evolved schema
    shutil.rmtree(src)
    import os as _os

    _os.makedirs(src)
    state2, desc2 = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc2.regular_columns == ["v1", "v2"]
    got = {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state2.collect()}
    assert got == {("a", 1): (10, None), ("b", 1): (20, "w")}


def test_mixed_tablet_mode_rejected(spark, tmp_path):
    """Reference Master.isTabletsBased (Master.java:46-65) / MasterTest's
    mixed-mode case: a consumer group mixing tablet-based and
    vnodes-based tables must be refused before any query starts."""
    import pytest

    from scylla_cdc_java_spark.model.generations import tablets_based
    from scylla_cdc_java_spark.streaming.multi import MultiTableConsumer

    # unit level: uniform sets return the common mode, mixed sets raise
    assert tablets_based([("a", False), ("b", False)]) is False
    assert tablets_based([("a", True), ("b", True)]) is True
    assert tablets_based([]) is False
    with pytest.raises(ValueError, match="Mixed tablet configuration"):
        tablets_based([("a", True), ("b", False)])

    # group level: the mixed set is rejected at lifecycle entry
    d_vnode = _desc_of(("pk", S), ("v1", I))
    d_tablet = CdcTableDescriptor(
        name="tbl_t",
        base_schema=T.StructType([T.StructField("pk", S), T.StructField("v", I)]),
        partition_keys=["pk"],
        uses_tablets=True,
    )
    group = (
        MultiTableConsumer(spark, str(tmp_path / "work"), n_buckets=4)
        .add_tables([("t1", str(tmp_path / "s1"), d_vnode),
                     ("t2", str(tmp_path / "s2"), d_tablet)])
    )
    with pytest.raises(ValueError, match="Mixed tablet configuration"):
        group.replicate_available_now()
    with pytest.raises(ValueError, match="Mixed tablet configuration"):
        group.start()


UD1 = _desc_of(("pk", S), ("ck", I), ("u", T.StructType([T.StructField("a", I)])))
UD2 = _desc_of(
    ("pk", S),
    ("ck", I),
    ("u", T.StructType([T.StructField("a", I), T.StructField("b", S)])),
)


# full: UDT-field ADD variant; column-level ADD/DROP evolution kept.
@pytest.mark.full
def test_replicate_evolves_udt_field_add(spark, tmp_path):
    """AlterUpdateUdtIT analog: ``ALTER TYPE ... ADD`` widens a UDT column
    mid-stream — the column set is unchanged, only the struct layout
    grows. The engine must evolve the descriptor's nested type, null-fill
    the new field for pre-ALTER rows (log and state sides), and keep the
    whole-cell LWW semantics across the boundary."""
    src, work = str(tmp_path / "src"), str(tmp_path / "work")

    g1 = CdcLogGenerator(UD1)
    _append(
        spark,
        g1,
        [("insert", ("a",), (1,), {"u": {"a": 1}}),
         ("insert", ("b",), (1,), {"u": {"a": 2}})],
        src,
    )
    state, desc = replicate_with_schema_evolution(spark, src, UD1, work, n_buckets=4)
    assert [f.name for f in desc.base_field("u").dataType.fields] == ["a"]

    # ALTER TYPE simple_udt ADD b — post-ALTER files carry struct<a,b>
    g2 = CdcLogGenerator(UD2)
    g2._t = g1._t
    _append(
        spark,
        g2,
        [("insert", ("a",), (2,), {"u": {"a": 3, "b": "x"}}),
         ("update", ("b",), (1,), {"u": {"a": 9, "b": "y"}})],
        src,
    )
    state, desc = replicate_with_schema_evolution(spark, src, UD1, work, n_buckets=4)
    assert [f.name for f in desc.base_field("u").dataType.fields] == ["a", "b"]
    got = {
        (r["pk"], r["ck"]): (r["u"]["a"], r["u"]["b"]) if r["u"] is not None else None
        for r in state.collect()
    }
    # pre-ALTER row (a,1): state-side null-fill of the new field;
    # (b,1): post-ALTER whole-cell overwrite wins
    assert got == {("a", 1): (1, None), ("a", 2): (3, "x"), ("b", 1): (9, "y")}


# full: mtime-ordering edge of the evolution listing (kept path covers).
@pytest.mark.full
def test_post_alter_file_with_older_mtime_is_not_narrowed(spark, tmp_path):
    """The distributed-writer hole: a post-ALTER (wide) file whose mtime
    sorts OLDER than a pre-ALTER (narrow) straggler. Newest-file-only
    signature detection would read the wide file under the narrow schema
    — silently dropping the new column's data and permanently skipping it
    via the offset log. The pending-merge must read every file at least
    as wide as its own footer, and a processed-files-only directory must
    never re-narrow the descriptor."""
    import os as _os

    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    g2 = CdcLogGenerator(V2)  # post-ALTER writer (wide: v1, v2)
    _append(spark, g2, [("insert", ("n",), (1,), {"v1": 1, "v2": "keep"})], src)
    g1 = CdcLogGenerator(V1)  # pre-ALTER straggler (narrow: v1)
    g1._t = g2._t
    _append(spark, g1, [("insert", ("o",), (1,), {"v1": 2})], src)
    # no utime games needed: the wide file already has the OLDER mtime —
    # exactly the adversarial ordering (newest-by-mtime is the narrow one)

    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"], "straggler mis-read as ALTER DROP"
    got = {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state.collect()}
    assert got == {("n", 1): (1, "keep"), ("o", 1): (2, None)}

    # a second pass over the fully-processed directory must keep the wide
    # descriptor (no fresh evidence -> no schema change)
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"]
    assert {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state.collect()} == got


def test_replicate_re_add_column_does_not_resurrect(spark, tmp_path):
    """AlterReAddColIT analog (scylla-cdc-lib/src/test/java/com/scylladb/
    cdc/lib/AlterReAddColIT.java): DROP a column mid-stream, then re-ADD
    one with the same name. The re-added column is a NEW column — rows
    written before the re-add must read NULL, never their pre-drop
    values."""
    src, work = str(tmp_path / "src"), str(tmp_path / "work")

    g1 = CdcLogGenerator(V2)  # (v1, v2)
    _append(spark, g1, [("insert", ("a",), (1,), {"v1": 1, "v2": "old"})], src)
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert {(r["pk"], r["v2"]) for r in state.collect()} == {("a", "old")}

    gd = CdcLogGenerator(V1)  # ALTER DROP v2
    gd._t = g1._t
    _append(spark, gd, [("insert", ("b",), (1,), {"v1": 2})], src)
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert "v2" not in state.columns

    gr = CdcLogGenerator(V2)  # ALTER ADD v2 back (same name, fresh column)
    gr._t = gd._t
    _append(
        spark,
        gr,
        [
            ("insert", ("c",), (1,), {"v1": 3, "v2": "new"}),
            ("update", ("a",), (1,), {"v1": 9}),
        ],
        src,
    )
    state, desc = replicate_with_schema_evolution(spark, src, V1, work, n_buckets=4)
    assert desc.regular_columns == ["v1", "v2"]
    got = {(r["pk"], r["ck"]): (r["v1"], r["v2"]) for r in state.collect()}
    # "a" was updated after the re-add but its v2 must be NULL — the
    # pre-drop "old" value may not resurrect
    assert got == {("a", 1): (9, None), ("b", 1): (2, None), ("c", 1): (3, "new")}


# full: UDT-level twin of the column-level resurrection regression (kept).
@pytest.mark.full
def test_replicate_udt_field_re_add_does_not_resurrect(spark, tmp_path):
    """UDT-field sibling of the re-add scenario: ALTER TYPE DROP a field,
    then ADD one back with the same name. The nested field is NEW — rows
    written before the re-add must read NULL in it, never their pre-drop
    nested values (bucket files keep the old struct layout on disk)."""
    src, work = str(tmp_path / "src"), str(tmp_path / "work")

    g1 = CdcLogGenerator(UD2)  # u: struct<a:int, b:string>
    _append(spark, g1, [("insert", ("a",), (1,), {"u": {"a": 1, "b": "old"}})], src)
    state, desc = replicate_with_schema_evolution(spark, src, UD1, work, n_buckets=4)
    assert {r["u"]["b"] for r in state.collect()} == {"old"}

    gd = CdcLogGenerator(UD1)  # ALTER TYPE DROP b
    gd._t = g1._t
    _append(spark, gd, [("insert", ("b",), (1,), {"u": {"a": 2}})], src)
    state, desc = replicate_with_schema_evolution(spark, src, UD1, work, n_buckets=4)
    assert "b" not in [f.name for f in desc.base_field("u").dataType.fields]

    gr = CdcLogGenerator(UD2)  # ALTER TYPE ADD b back
    gr._t = gd._t
    _append(spark, gr, [("insert", ("c",), (1,), {"u": {"a": 3, "b": "new"}})], src)
    state, desc = replicate_with_schema_evolution(spark, src, UD1, work, n_buckets=4)
    assert [f.name for f in desc.base_field("u").dataType.fields] == ["a", "b"]
    got = {
        (r["pk"], r["ck"]): (r["u"]["a"], r["u"]["b"]) if r["u"] is not None else None
        for r in state.collect()
    }
    assert got == {("a", 1): (1, None), ("b", 1): (2, None), ("c", 1): (3, "new")}
