#!/usr/bin/env python
"""Extended randomized differential fuzz of the CDC apply kernel.

The in-repo pytest fuzz (`tests/test_apply.py`) pins one seed per fixture
schema so CI stays fast and deterministic. This tool drives the same
engine-vs-replay differential across MANY seeds, all 8 fixture schemas,
both modes, and — beyond what the pytest covers per seed — a split
incremental apply (first half materialized with a version column, fed
back as ``initial_state`` for the second half plus a replayed tail),
which is the convergence path the reference exercises via
``USING TIMESTAMP`` idempotent writes.

Usage: PYTHONPATH=/root/repo python tools/fuzz_apply.py [--seeds 20] [--n 120]
Exit code 1 on the first divergence, with the (table, seed, mode) triple.
"""

from __future__ import annotations

import argparse
import math
import random
import sys

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from scylla_cdc_java_spark.operators.apply import apply_cdc_log  # noqa: E402
from scylla_cdc_java_spark.session import get_spark  # noqa: E402
from scylla_cdc_java_spark.testing import (  # noqa: E402
    CdcLogGenerator,
    FIXTURE_TABLES,
    replay_dml,
)


def _canon(v):
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted((_canon(k), _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def rand_value(rng, desc, col):
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


def rand_dml(rng, desc, n):
    pks = [("p%d" % i,) for i in range(4)]
    n_ck = len(desc.clustering_keys)
    dml: list[tuple] = []
    for _ in range(n):
        roll = rng.random()
        pk = rng.choice(pks)
        ck = tuple(rng.randrange(0, 5) for _ in range(n_ck))
        if roll < 0.45:
            dml.append(("insert", pk, ck, {c: rand_value(rng, desc, c) for c in desc.regular_columns}))
        elif roll < 0.75:
            cells = {c: rand_value(rng, desc, c) for c in desc.regular_columns if rng.random() < 0.7}
            if cells:
                dml.append(("update", pk, ck, cells))
        elif roll < 0.85:
            dml.append(("row_delete", pk, ck))
        elif roll < 0.92 and n_ck >= 1:
            lo = tuple(rng.randrange(0, 3) if i == 0 else None for i in range(n_ck))
            hi = tuple(rng.randrange(2, 5) if i == 0 else None for i in range(n_ck))
            dml.append(("range_delete", pk, (lo, rng.random() < 0.5), (hi, rng.random() < 0.5)))
        else:
            dml.append(("partition_delete", pk))
    return dml


def check(spark, table, seed, n, mode, incremental):
    desc = FIXTURE_TABLES[table]
    rng = random.Random(seed)
    dml = rand_dml(rng, desc, n)
    gen = CdcLogGenerator(desc, seed=seed)
    names = [f.name for f in desc.base_schema.fields]
    want = sorted(_canon(tuple(r[c] for c in names)) for r in replay_dml(desc, dml))

    if not incremental:
        df = gen.spark_df(spark, dml, shuffle=True, duplicate_frac=0.2)
        got_rows = apply_cdc_log(df, desc, mode=mode).collect()
    else:
        # split apply: half the log materialized with versions, fed back as
        # initial_state with the rest PLUS a replay of random whole CDC
        # batches (the rows of one cdc$time) from anywhere in the first
        # half (at-least-once across the checkpoint boundary)
        rows = gen.encode(dml)
        cut = len(rows) // 2
        first, second = rows[:cut], rows[cut:]
        times = sorted({r["cdc$time"] for r in first})
        replayed = set(rng.sample(times, max(1, len(times) // 5)))
        overlap = [dict(r) for r in first if r["cdc$time"] in replayed]
        schema_df = lambda rs: spark.createDataFrame(  # noqa: E731
            rs, __import__("scylla_cdc_java_spark.model.schema", fromlist=["build_cdc_log_schema"]).build_cdc_log_schema(desc)
        )
        st = apply_cdc_log(schema_df(first), desc, mode=mode, with_version_col=True)
        got_rows = apply_cdc_log(
            schema_df(second + overlap), desc, mode=mode, initial_state=st
        ).collect()
    got = sorted(_canon(tuple(r[c] for c in names)) for r in got_rows)
    if got != want:
        print(f"DIVERGENCE table={table} seed={seed} mode={mode} incremental={incremental}")
        print(" engine:", got[:6])
        print(" oracle:", want[:6])
        return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--n", type=int, default=120)
    ap.add_argument("--start-seed", type=int, default=1000)
    args = ap.parse_args()
    spark = get_spark(app_name="fuzz_apply", shuffle_partitions=8)
    total = ok = 0
    for seed in range(args.start_seed, args.start_seed + args.seeds):
        for table in FIXTURE_TABLES:
            for mode, incremental in (("delta", False), ("delta", True)):
                total += 1
                if check(spark, table, seed, args.n, mode, incremental):
                    ok += 1
                else:
                    print(f"FAILED after {total} checks")
                    sys.exit(1)
        print(f"seed {seed}: all {len(FIXTURE_TABLES) * 2} checks pass ({ok}/{total} cumulative)")
    print(f"OK: {ok}/{total} differential checks pass")


if __name__ == "__main__":
    main()
