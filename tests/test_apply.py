"""Differential tests of the apply kernel vs the pure-Python DML oracle.

Mirrors the reference's golden test strategy (ReplicatorCorrectnessTestIT):
run a DML script, feed its CDC encoding through the engine (in shuffled
arrival order, with duplicate deliveries), and compare the materialized
state against an independent replay of the DML.
"""

from __future__ import annotations

import math
import random

import pytest

from scylla_cdc_java_spark.model.schema import build_cdc_log_schema
from scylla_cdc_java_spark.operators import apply_cdc_log
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


def run_diff(spark, table: str, dml: list[tuple], mode: str = "delta", dup: float = 0.2):
    desc = FIXTURE_TABLES[table]
    gen = CdcLogGenerator(desc)
    df = gen.spark_df(spark, dml, shuffle=True, duplicate_frac=dup)
    got = apply_cdc_log(df, desc, mode=mode).collect()
    want = replay_dml(desc, dml)
    got_set = sorted(_canon(tuple(r[n] for n in r.__fields__)) for r in got)
    names = [f.name for f in desc.base_schema.fields]
    want_set = sorted(_canon(tuple(r[n] for n in names)) for r in want)
    assert got_set == want_set, f"{table}: engine={got_set[:5]} oracle={want_set[:5]}"
    return got


def test_simple_insert_update_delete(spark):
    dml = [
        ("insert", ("a",), (1,), {"v1": 10, "v2": "x"}),
        ("insert", ("a",), (2,), {"v1": 20, "v2": "y"}),
        ("update", ("a",), (1,), {"v1": 11}),
        ("update", ("a",), (3,), {"v2": "ghost"}),  # update creates cells w/o marker
        ("row_delete", ("a",), (2,)),
        ("insert", ("b",), (1,), {"v1": None, "v2": "only"}),  # explicit null write
        ("update", ("a",), (1,), {"v2": None}),  # cell tombstone
    ]
    rows = run_diff(spark, "tbl_simple", dml)
    by_key = {(r["pk"], r["ck"]): r for r in rows}
    assert by_key[("a", 1)]["v1"] == 11 and by_key[("a", 1)]["v2"] is None
    assert ("a", 2) not in by_key
    assert by_key[("a", 3)]["v2"] == "ghost"


def test_update_only_tombstone_removes_row(spark):
    dml = [
        ("update", ("a",), (1,), {"v1": 5}),
        ("update", ("a",), (1,), {"v1": None}),  # last live cell dies -> row gone
    ]
    rows = run_diff(spark, "tbl_simple", dml)
    assert rows == []


def test_insert_resurrects_after_delete(spark):
    dml = [
        ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
        ("row_delete", ("a",), (1,)),
        ("insert", ("a",), (1,), {"v1": 2}),
    ]
    rows = run_diff(spark, "tbl_simple", dml)
    assert rows[0]["v1"] == 2 and rows[0]["v2"] is None


def test_partition_delete(spark):
    dml = [
        ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
        ("insert", ("a",), (2,), {"v1": 2, "v2": "y"}),
        ("insert", ("b",), (1,), {"v1": 3, "v2": "z"}),
        ("partition_delete", ("a",)),
        ("insert", ("a",), (3,), {"v1": 4, "v2": "w"}),
    ]
    rows = run_diff(spark, "tbl_simple", dml)
    keys = {(r["pk"], r["ck"]) for r in rows}
    assert keys == {("b", 1), ("a", 3)}


def test_range_delete_multi_ck(spark):
    dml = [
        *[
            ("insert", ("p",), (ck1, ck2), {"v": ck1 * 10 + ck2})
            for ck1 in range(3)
            for ck2 in range(3)
        ],
        # DELETE WHERE pk='p' AND ck1=1 AND ck2 >= 1 AND ck2 < 3  (eq-prefix walk)
        ("range_delete", ("p",), ((1, 1), True), ((1, 3), False)),
        # DELETE WHERE pk='p' AND ck1 > 1 (partial bound, exclusive)
        ("range_delete", ("p",), ((1, None), False), ((None, None), True)),
    ]
    rows = run_diff(spark, "tbl_multiple_clustering_keys", dml)
    keys = sorted((r["ck1"], r["ck2"]) for r in rows)
    assert keys == [(0, 0), (0, 1), (0, 2), (1, 0)]


def test_blobs(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": bytearray(b"\x00\x01\xff")}),
        ("insert", ("a",), (2,), {"v": bytearray(b"")}),
        ("insert", ("a",), (3,), {"v": None}),
    ]
    rows = run_diff(spark, "tbl_blobs", dml)
    by = {r["ck"]: r["v"] for r in rows}
    assert bytes(by[1]) == b"\x00\x01\xff" and by[3] is None


def test_sets_add_remove_overwrite(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": {"overwrite": [1, 2, 3]}}),
        ("update", ("a",), (1,), {"v": {"add": [4, 5]}}),
        ("update", ("a",), (1,), {"v": {"remove": [2, 99]}}),
        ("insert", ("b",), (1,), {"v": {"overwrite": [7]}}),
        ("update", ("b",), (1,), {"v": {"overwrite": None}}),  # delete whole set
        ("update", ("c",), (1,), {"v": {"add": [1]}}),
        ("update", ("c",), (1,), {"v": {"remove": [1]}}),  # empties -> row gone
    ]
    rows = run_diff(spark, "tbl_sets", dml)
    by = {(r["pk"], r["ck"]): r["v"] for r in rows}
    assert sorted(by[("a", 1)]) == [1, 3, 4, 5]
    assert by[("b", 1)] is None
    assert ("c", 1) not in by


def test_maps_put_remove_overwrite(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": {"overwrite": {1: 10, 2: 20}}}),
        ("update", ("a",), (1,), {"v": {"add": {2: 21, 3: 30}}}),
        ("update", ("a",), (1,), {"v": {"remove": [1]}}),
        ("insert", ("b",), (1,), {"v": {"overwrite": {5: 50}}}),
        ("update", ("b",), (1,), {"v": {"overwrite": {6: 60}}}),
    ]
    rows = run_diff(spark, "tbl_maps", dml)
    by = {(r["pk"], r["ck"]): r["v"] for r in rows}
    assert by[("a", 1)] == {2: 21, 3: 30}
    assert by[("b", 1)] == {6: 60}


def test_lists_append_overwrite(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": {"overwrite": [1, 2]}}),
        ("update", ("a",), (1,), {"v": {"add": [3]}}),
        ("update", ("a",), (1,), {"v": {"add": [4, 5]}}),
        ("insert", ("b",), (1,), {"v": {"overwrite": [9, 8]}}),
        ("update", ("b",), (1,), {"v": {"overwrite": [7]}}),
    ]
    rows = run_diff(spark, "tbl_lists", dml)
    by = {(r["pk"], r["ck"]): r["v"] for r in rows}
    assert by[("a", 1)] == [1, 2, 3, 4, 5]  # timeuuid order == append order
    assert by[("b", 1)] == [7]


def test_tuples_frozen(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": (1, "x")}),
        ("update", ("a",), (1,), {"v": (2, None)}),  # frozen: whole-value overwrite
        ("insert", ("a",), (2,), {"v": None}),
    ]
    rows = run_diff(spark, "tbl_tuples", dml)
    by = {r["ck"]: r["v"] for r in rows}
    assert tuple(by[1]) == (2, None) and by[2] is None


def test_udt_field_merge(spark):
    dml = [
        ("insert", ("a",), (1,), {"v": {"fields": {"a": 1, "b": 2, "c": "x"}}}),
        ("update", ("a",), (1,), {"v": {"fields": {"b": 20}}}),  # per-field set
        ("update", ("a",), (1,), {"v": {"remove_idx": [2]}}),  # null field c
    ]
    rows = run_diff(spark, "tbl_udts", dml)
    assert tuple(rows[0]["v"]) == (1, 20, None)


def test_postimage_mode(spark):
    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    # postimage stream: op1/2 rows followed by op9 full-image rows
    dml = [
        ("insert", ("a",), (1,), {"v1": 1, "v2": "x"}),
        ("update", ("a",), (1,), {"v1": 2}),
        ("row_delete", ("a",), (2,)),
    ]
    rows_enc = gen.encode(dml)
    # append synthetic post-images mirroring final values of each write
    import copy

    images = []
    for r in rows_enc:
        if r["cdc$operation"] in (1, 2):
            img = copy.deepcopy(r)
            img["cdc$operation"] = 9
            img["cdc$batch_seq_no"] = r["cdc$batch_seq_no"] + 1
            if img["v1"] is None:
                img["v1"] = 1 if r["cdc$operation"] == 1 else img["v1"]
            if r["cdc$operation"] == 1:
                img["v2"] = "x"  # full image carries untouched columns too
            images.append(img)
    from scylla_cdc_java_spark.model.schema import build_cdc_log_schema

    df = spark.createDataFrame(rows_enc + images, build_cdc_log_schema(desc))
    got = apply_cdc_log(df, desc, mode="postimage").collect()
    assert len(got) == 1
    assert got[0]["pk"] == "a" and got[0]["v1"] == 2 and got[0]["v2"] == "x"


def _fuzz_dml(desc, rng) -> list[tuple]:
    """120 random statements of every kind on four partition keys."""
    pks = [("p%d" % i,) for i in range(4)]
    n_ck = len(desc.clustering_keys)

    def rand_ck():
        return tuple(rng.randrange(0, 5) for _ in range(n_ck))

    def rand_value(col):
        from pyspark.sql import types as T

        dt = desc.base_field(col).dataType
        if col in desc.non_frozen_collections and not isinstance(dt, T.StructType):
            choice = rng.random()
            if isinstance(dt, T.MapType) and col not in desc.list_columns:
                if choice < 0.4:
                    return {"overwrite": {rng.randrange(5): rng.randrange(100) for _ in range(2)}}
                if choice < 0.8:
                    return {"add": {rng.randrange(5): rng.randrange(100) for _ in range(2)}}
                return {"remove": [rng.randrange(5)]}
            if choice < 0.4:
                return {"overwrite": [rng.randrange(10) for _ in range(3)]}
            if choice < 0.8:
                return {"add": [rng.randrange(10) for _ in range(2)]}
            return {"remove": [rng.randrange(10)]}
        if isinstance(dt, T.StructType):
            if col in desc.non_frozen_collections:
                return {"fields": {"a": rng.randrange(10), "b": rng.randrange(10)}}
            return (rng.randrange(10), rng.choice(["s1", "s2", None]))
        if isinstance(dt, T.BinaryType):
            return bytearray(rng.randbytes(rng.randrange(0, 6)))
        if isinstance(dt, T.IntegerType):
            return rng.choice([None, rng.randrange(1000)])
        return rng.choice([None, "val%d" % rng.randrange(50)])

    dml: list[tuple] = []
    for _ in range(120):
        roll = rng.random()
        pk = rng.choice(pks)
        if roll < 0.45:
            cells = {c: rand_value(c) for c in desc.regular_columns}
            dml.append(("insert", pk, rand_ck(), cells))
        elif roll < 0.75:
            cells = {c: rand_value(c) for c in desc.regular_columns if rng.random() < 0.7}
            if not cells:
                continue
            dml.append(("update", pk, rand_ck(), cells))
        elif roll < 0.85:
            dml.append(("row_delete", pk, rand_ck()))
        elif roll < 0.92 and n_ck >= 1:
            lo = tuple(rng.randrange(0, 3) if i == 0 else None for i in range(n_ck))
            hi = tuple(rng.randrange(2, 5) if i == 0 else None for i in range(n_ck))
            dml.append(("range_delete", pk, (lo, rng.random() < 0.5), (hi, rng.random() < 0.5)))
        else:
            dml.append(("partition_delete", pk))
    return dml


@pytest.mark.parametrize("table", list(FIXTURE_TABLES))
def test_fuzz_differential(spark, table):
    """Seeded random DML fuzz per fixture schema, shuffled + duplicated."""
    desc = FIXTURE_TABLES[table]
    run_diff(spark, table, _fuzz_dml(desc, random.Random(hash(table) & 0xFFFF)))


@pytest.mark.parametrize(
    "table",
    ["tbl_simple", "tbl_multiple_clustering_keys", "tbl_lists", "tbl_sets", "tbl_maps", "tbl_udts"],
)
def test_fold_across_arrow_batch_boundaries(spark, table):
    """At two rows per Arrow batch every CQL partition, duplicate
    deliveries and a range delete's two bounds land in different batches
    of one fold call; the fold carries the partition's state across them
    and the fuzz differential still equals the oracle."""
    desc = FIXTURE_TABLES[table]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        run_diff(spark, table, _fuzz_dml(desc, random.Random(table)))
    finally:
        spark.conf.unset(key)


def test_fold_seeded_passes_across_arrow_batch_boundaries(spark, tmp_path):
    """The fold-path ``_check_both_ways`` cases (a seeded second pass, a
    list column's seed encoding, two replicator calls) still equal the
    oracle at two rows per Arrow batch, where seed rows and the changes
    after them land in different batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        test_apply_hostile_identifiers(spark, tmp_path / "hostile", True)
        test_apply_internal_names_cannot_shadow_base_columns(spark, tmp_path / "names", True)
    finally:
        spark.conf.unset(key)


def test_fold_kernel_calls_within_shuffle_partitions(spark, monkeypatch):
    """The fold makes one Python kernel call per task, however many
    partition keys the changes touch: over 2,000 keys, calls stay within
    ``spark.sql.shuffle.partitions``. Counted by wrapping the kernel with
    a Spark accumulator."""
    from scylla_cdc_java_spark.operators import apply as apply_mod

    calls = spark.sparkContext.accumulator(0)
    make = apply_mod._make_fold_kernel

    def counting_kernel(*args, **kwargs):
        kernel = make(*args, **kwargs)

        def counted(data):
            calls.add(1)
            return kernel(data)

        return counted

    monkeypatch.setattr(apply_mod, "_make_fold_kernel", counting_kernel)
    dml = [("insert", ("k%d" % i,), (i % 8,), {"v1": i, "v2": "s"}) for i in range(2000)]
    dml += [("update", ("k%d" % i,), (i % 8,), {"v1": -i}) for i in range(0, 2000, 3)]
    dml += [("row_delete", ("k%d" % i,), (i % 8,)) for i in range(0, 2000, 7)]
    run_diff(spark, "tbl_simple", dml)
    assert 0 < calls.value <= int(spark.conf.get("spark.sql.shuffle.partitions")), calls.value


def _scalar_dml(rng, desc, n=150, partition_frac=0.08):
    """Random scalar-only DML: inserts/updates (values, explicit nulls,
    unset), row deletes, partition deletes — no range deletes."""
    from pyspark.sql import types as T

    pks = [("p%d" % i,) for i in range(4)]
    n_ck = len(desc.clustering_keys)
    dml = []
    for _ in range(n):
        roll = rng.random()
        pk = rng.choice(pks)
        ck = tuple(rng.randrange(0, 5) for _ in range(n_ck))
        cells = {}
        for c in desc.regular_columns:
            if rng.random() < 0.75:
                if isinstance(desc.base_field(c).dataType, T.IntegerType):
                    cells[c] = rng.choice([None, rng.randrange(1000)])
                else:
                    cells[c] = rng.choice([None, "val%d" % rng.randrange(50)])
        if roll < 0.45:
            dml.append(("insert", pk, ck, cells))
        elif roll < 0.75 and cells:
            dml.append(("update", pk, ck, cells))
        elif roll < 1 - partition_frac:
            dml.append(("row_delete", pk, ck))
        else:
            dml.append(("partition_delete", pk))
    return dml


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_native_scalar_apply_ckless_fuzz(spark, seed):
    """The native cell-LWW path (selected for clustering-key-less scalar
    tables) must match the pure-Python replay oracle under shuffled,
    duplicated delivery."""
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor
    from scylla_cdc_java_spark.testing.generator import CdcLogGenerator

    desc = CdcTableDescriptor(
        name="tbl_flat",
        base_schema=T.StructType(
            [
                T.StructField("pk", T.StringType()),
                T.StructField("v1", T.IntegerType()),
                T.StructField("v2", T.StringType()),
            ]
        ),
        partition_keys=["pk"],
        clustering_keys=[],
    )
    rng = random.Random(seed)
    dml = _scalar_dml(rng, desc)
    df = CdcLogGenerator(desc, seed=seed).spark_df(
        spark, dml, shuffle=True, duplicate_frac=0.25
    )
    native = apply_cdc_log(df, desc, mode="delta")
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    want = replay_dml(desc, dml)
    names = [f.name for f in desc.base_schema.fields]
    canon = lambda rows: sorted(_canon(tuple(r[n] for n in names)) for r in rows)  # noqa: E731
    assert canon(native.collect()) == canon(want)


@pytest.mark.parametrize("seed", [11, 12])
def test_native_scalar_apply_with_ck_fuzz(spark, seed):
    """The scalar DML mix of the ck-less native test on a clustering-key
    table with partition deletes: the fold must match the replay oracle
    (a partition delete kills every ck of its pk only)."""
    desc = FIXTURE_TABLES["tbl_simple"]
    rng = random.Random(seed)
    dml = _scalar_dml(rng, desc, partition_frac=0.15)
    df = CdcLogGenerator(desc, seed=seed).spark_df(
        spark, dml, shuffle=True, duplicate_frac=0.25
    )
    got = apply_cdc_log(df, desc, mode="delta")
    want = replay_dml(desc, dml)
    names = [f.name for f in desc.base_schema.fields]
    canon = lambda rows: sorted(_canon(tuple(r[n] for n in names)) for r in rows)  # noqa: E731
    assert canon(got.collect()) == canon(want)


def _collection_dml(desc, rng, n=120):
    """Random collection DML (no range deletes): inserts/updates mixing
    overwrite/add/remove deltas, row + partition deletes."""
    from pyspark.sql import types as T

    pks = [("p%d" % i,) for i in range(4)]
    n_ck = len(desc.clustering_keys)
    dml = []

    def cw(col):
        dt = desc.base_field(col).dataType
        if isinstance(dt, T.StructType):
            r = rng.random()
            if r < 0.5:
                return {"fields": {"a": rng.randrange(10), "b": rng.randrange(10)}}
            if r < 0.8:
                return {"fields": {"a": rng.randrange(10)}, "remove_idx": [1]}
            return {"overwrite_null": True, "fields": {"b": rng.randrange(10)}}
        if isinstance(dt, T.MapType):
            r = rng.random()
            if r < 0.4:
                return {"overwrite": {rng.randrange(5): rng.randrange(100) for _ in range(2)}}
            if r < 0.8:
                return {"add": {rng.randrange(5): rng.randrange(100) for _ in range(2)}}
            return {"remove": [rng.randrange(5)]}
        r = rng.random()
        if r < 0.4:
            return {"overwrite": [rng.randrange(10) for _ in range(3)]}
        if r < 0.8:
            return {"add": [rng.randrange(10) for _ in range(2)]}
        return {"remove": [rng.randrange(10)]}

    for _ in range(n):
        roll = rng.random()
        pk = rng.choice(pks)
        ck = tuple(rng.randrange(0, 5) for _ in range(n_ck))
        if roll < 0.5:
            dml.append(("insert", pk, ck, {c: cw(c) for c in desc.regular_columns}))
        elif roll < 0.8:
            dml.append(("update", pk, ck, {c: cw(c) for c in desc.regular_columns}))
        elif roll < 0.93:
            dml.append(("row_delete", pk, ck))
        else:
            dml.append(("partition_delete", pk))
    return dml


@pytest.mark.parametrize("table", ["tbl_sets", "tbl_maps", "tbl_lists", "tbl_udts"])
@pytest.mark.parametrize("seed", [21, 22])
def test_native_collection_apply_fuzz(spark, table, seed):
    """Collection tables take the fold, which must match the pure-Python
    replay oracle on element adds/removes/overwrites, row and partition
    deletes under shuffled, duplicated delivery."""
    desc = FIXTURE_TABLES[table]
    rng = random.Random(seed)
    dml = _collection_dml(desc, rng)
    df = CdcLogGenerator(desc, seed=seed).spark_df(
        spark, dml, shuffle=True, duplicate_frac=0.25
    )
    got = apply_cdc_log(df, desc)
    want = replay_dml(desc, dml)
    names = [f.name for f in desc.base_schema.fields]
    canon = lambda rows: sorted(_canon(tuple(r[n] for n in names)) for r in rows)  # noqa: E731
    assert canon(got.collect()) == canon(want), f"{table} fold diverged"


def test_ttl_expiry_scalar_cells_and_marker(spark):
    """cdc$ttl visibility: cells and row markers expire at write+ttl when
    the materialization is evaluated as-of a point in time."""
    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    dml = [
        ("insert", ("a",), (1,), {"v1": 1, "v2": "keep"}),   # no ttl
        ("insert", ("a",), (2,), {"v1": 2, "v2": "gone"}, 60),   # ttl 60 s
        ("insert", ("a",), (3,), {"v1": 3, "v2": "x"}, 60),
        ("update", ("a",), (3,), {"v1": 33}),  # refresh v1 w/o ttl; marker+v2 still expire
    ]
    rows_enc = gen.encode(dml)
    from scylla_cdc_java_spark.model.schema import build_cdc_log_schema

    df = spark.createDataFrame(rows_enc, build_cdc_log_schema(desc))
    t_last = max(r["cdc$time_ts"] for r in rows_enc)
    as_of_late = int(t_last.timestamp() * 1e6) + 3600 * 1_000_000  # +1 h
    got = {r["ck"]: r for r in apply_cdc_log(df, desc, as_of_micros=as_of_late).collect()}
    assert got[1]["v2"] == "keep"          # untouched, no ttl
    assert 2 not in got                    # fully expired row
    assert got[3]["v1"] == 33 and got[3]["v2"] is None  # refreshed cell survives

    as_of_now = int(t_last.timestamp() * 1e6) + 1_000_000  # +1 s: nothing expired
    got_now = {r["ck"]: r for r in apply_cdc_log(df, desc, as_of_micros=as_of_now).collect()}
    assert set(got_now) == {1, 2, 3} and got_now[2]["v2"] == "gone"

    # default: no expiry evaluation
    got_default = {r["ck"]: r for r in apply_cdc_log(df, desc).collect()}
    assert set(got_default) == {1, 2, 3}


def test_ttl_expiry_collection_elements(spark):
    """Per-element TTL: elements written USING TTL expire individually;
    elements (re)written later without TTL persist — set, map, and list."""
    from scylla_cdc_java_spark.model.schema import build_cdc_log_schema

    for table, mk, expect in [
        # insert {1,2} with ttl, later add {3} without: only 3 survives
        ("tbl_sets",
         [("insert", ("a",), (1,), {"v": {"overwrite": [1, 2]}}, 60),
          ("update", ("a",), (1,), {"v": {"add": [3]}})],
         [3]),
        # map: k1 with ttl, k2 refreshed without ttl after the ttl'd write
        ("tbl_maps",
         [("insert", ("a",), (1,), {"v": {"overwrite": {1: 10, 2: 20}}}, 60),
          ("update", ("a",), (1,), {"v": {"add": {2: 21}}})],
         {2: 21}),
        # list: ttl'd elements vanish, later append survives
        ("tbl_lists",
         [("insert", ("a",), (1,), {"v": {"overwrite": [7, 8]}}, 60),
          ("update", ("a",), (1,), {"v": {"add": [9]}})],
         [9]),
    ]:
        desc = FIXTURE_TABLES[table]
        gen = CdcLogGenerator(desc)
        rows_enc = gen.encode(mk)
        df = spark.createDataFrame(rows_enc, build_cdc_log_schema(desc))
        t_last = max(r["cdc$time_ts"] for r in rows_enc)
        late = int(t_last.timestamp() * 1e6) + 3600 * 1_000_000
        got = {r["ck"]: r for r in apply_cdc_log(df, desc, as_of_micros=late).collect()}
        v = got[1]["v"]
        v = _canon(v) if not isinstance(v, list) else sorted(v)
        want = _canon(expect) if isinstance(expect, dict) else sorted(expect)
        assert v == want, f"{table}: {v} != {want}"
        # before expiry everything is visible
        soon = int(t_last.timestamp() * 1e6) + 1_000_000
        got_soon = {r["ck"]: r for r in apply_cdc_log(df, desc, as_of_micros=soon).collect()}
        assert got_soon[1]["v"] is not None and len(got_soon[1]["v"]) == len(expect) + (
            2 if table != "tbl_maps" else 1
        )


def test_reconfigure_workers_diff():
    from scylla_cdc_java_spark.model.generations import reconfigure_workers
    from scylla_cdc_java_spark.model.state import TaskId

    t = lambda v: TaskId("ks", "t", 100, v)  # noqa: E731
    to_delete, to_start = reconfigure_workers([t(0), t(1), t(2)], [t(1), t(2), t(5)])
    assert to_delete == (t(0),) and to_start == (t(5),)


def test_apply_per_key_grouping_fallback(spark):
    """Two partition keys in one shuffle partition share a fold call but
    fold independently: a row or partition delete on one never touches
    the other's rows."""
    a, b = "k1", "k2"
    dml = [
        ("insert", (a,), (1,), {"v1": 1, "v2": "x"}),
        ("insert", (b,), (1,), {"v1": 10, "v2": "y"}),
        ("insert", (b,), (2,), {"v1": 20, "v2": "w"}),
        ("row_delete", (a,), (1,)),
        ("insert", (a,), (3,), {"v1": 3, "v2": "z"}),
        ("partition_delete", (b,)),
        ("insert", (b,), (3,), {"v1": 30, "v2": "v"}),
        ("update", (a,), (2,), {"v1": 2}),
    ]
    key = "spark.sql.shuffle.partitions"
    parts = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        rows = run_diff(spark, "tbl_simple", dml, dup=0.3)
    finally:
        spark.conf.set(key, parts)
    assert sorted((r["pk"], r["ck"]) for r in rows) == sorted(
        [(a, 2), (a, 3), (b, 3)]
    )


def test_resume_filter_cursor(spark):
    """P2 resume: only changes strictly after the saved cursor survive."""
    from scylla_cdc_java_spark.model.state import TaskState
    from scylla_cdc_java_spark.operators.dedup import resume_filter

    desc = FIXTURE_TABLES["tbl_simple"]
    gen = CdcLogGenerator(desc)
    dml = [("insert", ("a",), (i,), {"v1": i, "v2": "s"}) for i in range(10)]
    rows = gen.encode(dml)
    df = spark.createDataFrame(rows, build_cdc_log_schema(desc))
    cursor_uuid = rows[4]["cdc$time"]
    st = TaskState(0, 10**15, "00" * 16, cursor_uuid)
    kept = resume_filter(df, st).select("ck").collect()
    assert sorted(r["ck"] for r in kept) == [5, 6, 7, 8, 9]
    no_cursor = TaskState(0, 10**15)
    assert resume_filter(df, no_cursor).count() == 10


def test_range_delete_unbounded_both_sides(spark):
    """Range delete with no ck bound on either side clears existing rows of
    the partition (eq-prefix walk with empty prefix) but, unlike a
    partition delete, is itself just a ranged tombstone."""
    dml = [
        ("insert", ("p",), (1, 1), {"v": 1}),
        ("insert", ("p",), (2, 2), {"v": 2}),
        ("insert", ("q",), (1, 1), {"v": 3}),
        ("range_delete", ("p",), ((None, None), True), ((None, None), True)),
        ("insert", ("p",), (3, 3), {"v": 4}),
    ]
    rows = run_diff(spark, "tbl_multiple_clustering_keys", dml)
    keys = sorted((r["pk"], r["ck1"]) for r in rows)
    assert keys == [("p", 3), ("q", 1)]


def test_apply_empty_input(spark):
    from scylla_cdc_java_spark.model.schema import build_cdc_log_schema

    desc = FIXTURE_TABLES["tbl_simple"]
    df = spark.createDataFrame([], build_cdc_log_schema(desc))
    assert apply_cdc_log(df, desc).collect() == []


def _named_table(name, fields, ck=(), lists=()):
    """A table keyed on its first column (plus ``ck``) with the given
    ``(name, type)`` columns; ``lists`` are non-frozen list columns."""
    from pyspark.sql import types as T

    from scylla_cdc_java_spark.model.schema import CdcTableDescriptor

    return CdcTableDescriptor(
        name=name,
        base_schema=T.StructType([T.StructField(n, t) for n, t in fields]),
        partition_keys=[fields[0][0]],
        clustering_keys=list(ck),
        non_frozen_collections=list(lists),
        list_columns=list(lists),
    )


def _named_dml(desc, rng, n=50):
    """Random inserts, updates, row and partition deletes over a few keys;
    scalar cells get values or tombstones, list cells overwrites or
    appends."""
    from pyspark.sql import types as T

    dml = []
    for _ in range(n):
        pk = ("p%d" % rng.randrange(4),)
        ck = tuple(rng.randrange(3) for _ in desc.clustering_keys)
        roll = rng.random()
        if roll < 0.75:
            cells = {}
            for c in desc.regular_columns:
                if rng.random() < 0.25:
                    continue  # unset
                if c in desc.list_columns:
                    vals = [rng.randrange(9) for _ in range(rng.randrange(1, 3))]
                    cells[c] = rng.choice([{"overwrite": vals}, {"add": vals}])
                elif isinstance(desc.base_field(c).dataType, T.StringType):
                    cells[c] = rng.choice([None, "s%d" % rng.randrange(20)])
                else:
                    cells[c] = rng.choice([None, rng.randrange(1000)])
            dml.append((rng.choice(["insert", "update"]), pk, ck, cells))
        elif roll < 0.92:
            dml.append(("row_delete", pk, ck))
        else:
            dml.append(("partition_delete", pk))
    return dml


def _assert_state(desc, rows, dml):
    names = desc.base_schema.names
    got = sorted(_canon(tuple(r[n] for n in names)) for r in rows)
    want = sorted(_canon(tuple(r[n] for n in names)) for r in replay_dml(desc, dml))
    assert got == want, f"{desc.name}: engine={got[:5]} oracle={want[:5]}"


def _check_both_ways(spark, desc, dml, fold, state_dir):
    """Apply ``dml`` to ``desc`` in one pass, in two passes (the first
    pass's versioned state seeds the second, which redelivers some of the
    first), and in two ``ReplicatorSink`` calls; each must equal
    ``replay_dml``. ``fold`` says which apply path the table takes."""
    from scylla_cdc_java_spark.streaming.replicator import ReplicatorSink

    schema = build_cdc_log_schema(desc)
    gen = CdcLogGenerator(desc)
    half = len(dml) // 2
    first = list(gen.encode(dml[:half]))
    rows = gen.encode(dml[half:])
    rng = random.Random(len(dml))
    second = rows[len(first):] + [r for r in first if rng.random() < 0.3]
    df1 = spark.createDataFrame(first, schema)
    df2 = spark.createDataFrame(second, schema)

    whole = apply_cdc_log(spark.createDataFrame(rows, schema), desc)
    plan = whole._jdf.queryExecution().toString()
    assert ("MapInPandas" in plan) == fold
    _assert_state(desc, whole.collect(), dml)

    seed = apply_cdc_log(df1, desc, with_version_col=True)
    _assert_state(desc, apply_cdc_log(df2, desc, initial_state=seed).collect(), dml)

    sink = ReplicatorSink(desc, state_dir)
    sink(df1, 0)
    sink(df2, 1)
    _assert_state(desc, sink.current_state(spark).collect(), dml)


@pytest.mark.parametrize("fold", [False, True], ids=["native", "fold"])
def test_apply_internal_names_cannot_shadow_base_columns(spark, tmp_path, fold):
    """Base columns named like the names the apply and the sink use inside
    their plans (the fold's bucket, the native kernel's aggregates, the
    sink's partition column) keep their values on both apply paths and
    through the replicator."""
    from pyspark.sql import types as T

    I, S = T.IntegerType(), T.StringType()
    if fold:
        desc = _named_table(
            "kbucket", [("pk", S), ("ck", I), ("__kbucket", I), ("__bucket", I)], ck=["ck"]
        )
        dml = [
            ("insert", ("a",), (1,), {"__kbucket": 7, "__bucket": 7}),
            ("insert", ("b",), (1,), {"__kbucket": 9, "__bucket": 9}),
        ]
    else:
        desc = _named_table("del", [("__del", S), ("__ver", I), ("__bucket", I), ("__w0", S)])
        dml = [
            ("insert", ("a",), (), {"__ver": 7, "__bucket": 7, "__w0": "x"}),
            ("insert", ("b",), (), {"__ver": 9, "__bucket": 9, "__w0": "y"}),
        ]
    dml += _named_dml(desc, random.Random(5))
    _check_both_ways(spark, desc, dml, fold, str(tmp_path / "state"))


@pytest.mark.parametrize("fold", [False, True], ids=["native", "fold"])
def test_apply_hostile_identifiers(spark, tmp_path, fold):
    """Column names holding a backtick, a dot, a space and ``$``, and SQL
    keywords, go through both apply paths (the fold's seed includes a list
    column), a seeded second pass and the replicator unchanged."""
    from pyspark.sql import types as T

    I, S = T.IntegerType(), T.StringType()
    fields = [("p k", S), ("a`b", I), ("c.d", S), ("e$f", T.LongType()), ("select", S)]
    if fold:
        fields[1:1] = [("order", I)]
        fields.append(("l.st", T.ArrayType(I)))
        desc = _named_table("hostile", fields, ck=["order"], lists=["l.st"])
    else:
        desc = _named_table("hostile", fields)
    _check_both_ways(spark, desc, _named_dml(desc, random.Random(11), n=60), fold,
                     str(tmp_path / "state"))


def _redelivery_table(table):
    """``(desc, fold)`` of a redelivery case: a fold-path fixture table, or
    ``native``, a clustering-key-less scalar table."""
    from pyspark.sql import types as T

    if table == "native":
        desc = _named_table("native", [("pk", T.StringType()), ("v1", T.IntegerType()),
                                       ("v2", T.StringType())])
        return desc, False
    return FIXTURE_TABLES[table], True


_REDELIVERY_TABLES = ["tbl_simple", "tbl_multiple_clustering_keys", "tbl_lists", "native"]


@pytest.mark.parametrize("table", _REDELIVERY_TABLES)
def test_redelivered_changes_do_not_resurrect_deleted_rows(spark, tmp_path, table):
    """A versioned state keeps a row tombstone for every row a delete
    removed: the second pass and the second sink call redeliver inserts
    and updates of rows that the first half deleted, and those rows stay
    deleted."""
    desc, fold = _redelivery_table(table)
    _check_both_ways(spark, desc, _named_dml(desc, random.Random(5)), fold,
                     str(tmp_path / "state"))


def test_redelivery_across_arrow_batch_boundaries(spark, tmp_path):
    """The redelivery cases over the fuzz DML (range deletes and collection
    deltas too) at two rows per Arrow batch, where a seeded tombstone and
    the redelivered changes it must delete land in different batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        for table in _REDELIVERY_TABLES:
            desc, fold = _redelivery_table(table)
            _check_both_ways(spark, desc, _fuzz_dml(desc, random.Random(table)), fold,
                             str(tmp_path / table))
    finally:
        spark.conf.unset(key)
