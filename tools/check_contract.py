#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry through Spark and its ``oracle_sql()`` twin
through DuckDB on the same parquet tables, comparing row count, column
names, and an order-insensitive value hash (values canonicalized: floats
rounded to 9 significant digits, timestamps to ISO micros, rows sorted).

Usage: PYTHONPATH=/root/repo python tools/check_contract.py \
    [--sf-dir /root/testdata/sf0.01] [--only name1,name2] [-v]

Each run also rewrites plans/contract_runs.json with every checked gate's
status, row count and seconds.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-gate results of the last run, rewritten by each run
RUNS_PATH = os.path.join(REPO, "plans", "contract_runs.json")
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from scylla_cdc_java_spark.session import get_spark  # noqa: E402
from scylla_cdc_java_spark.sources.tables import TABLE_NAMES  # noqa: E402
from tools.oracle_lint import oracle_arrow_schema, type_parity_violations  # noqa: E402


def canon_value(v):
    import datetime
    import math
    from decimal import Decimal

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon_rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    spark = get_spark(app_name="contract-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    results, failed = {}, []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "SPARK_ERROR", "secs": round(time.time() - t0, 2), "error": str(e)[:300]
            }
            failed.append(name)
            continue
        entry = {"rows": len(srows), "secs": round(time.time() - t0, 2)}
        if name not in oracles:
            entry["status"] = "ROWS_ONLY"
            results[name] = entry
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:  # noqa: BLE001
            entry.update(status="ORACLE_ERROR", error=str(e)[:300])
            results[name] = entry
            failed.append(name)
            continue
        count_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        hash_ok = (
            schema_ok and table_hash(scols, srows) == table_hash(ocols, orows)
        )
        # Typed-output lint, FULL parity (VERDICT r09 #2): compare the
        # engine's Spark schema to the oracle's LIMIT-0 arrow schema by
        # render class. Catches the whole "value-equal, render-divergent"
        # genus — HUGEINT int-vs-float (r04-r08 source family) AND decimal
        # outputs on either side (r04-r09 text_temperature_weights) — that
        # a fetchall()-based value compare is blind to by construction.
        try:
            type_bad = type_parity_violations(
                df.schema, oracle_arrow_schema(con, oracles[name])
            )
        except Exception:  # noqa: BLE001
            type_bad = []
        type_ok = not type_bad
        entry.update(
            status="MATCH" if (count_ok and schema_ok and hash_ok and type_ok) else "MISMATCH",
            oracle_rows=len(orows),
            count_ok=count_ok,
            schema_ok=schema_ok,
            hash_ok=hash_ok,
        )
        if type_bad:
            entry["type_violations"] = type_bad
        if not schema_ok:
            entry["spark_cols"] = scols
            entry["oracle_cols"] = ocols
        if entry["status"] != "MATCH":
            failed.append(name)
            if args.verbose and schema_ok:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(canon_value(r[i]) for i in order) for r in srows}
                oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = {tuple(canon_value(r[i]) for i in oord) for r in orows}
                entry["spark_only"] = [list(x) for x in list(sset - oset)[:3]]
                entry["oracle_only"] = [list(x) for x in list(oset - sset)[:3]]
        results[name] = entry

    for name, r in results.items():
        line = f"{name:28s} {r.get('status'):11s} rows={r.get('rows', '-')} secs={r['secs']}"
        if r.get("status") not in ("MATCH", "ROWS_ONLY"):
            line += " " + json.dumps({k: v for k, v in r.items() if k not in ("status", "rows", "secs")})[:400]
        print(line)
    with open(RUNS_PATH, "w") as fh:
        gates = {
            name: {k: r.get(k) for k in ("status", "rows", "secs")} for name, r in results.items()
        }
        json.dump({"sf_dir": args.sf_dir, "gates": gates}, fh, indent=1)
    n_match = sum(1 for r in results.values() if r.get("status") == "MATCH")
    print(f"\n{n_match}/{len(results)} MATCH; failed: {failed or 'none'}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
