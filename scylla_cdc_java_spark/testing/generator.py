"""CDC event-log generator for differential testing.

Produces (a) a logical DML script and (b) its CDC-log encoding per the wire
layout of FIXTURES.md §0. The engine under test consumes (b); the pure-
Python oracle replays (a); results must match — mirroring the reference's
golden test (ReplicatorCorrectnessTestIT: run DML, replicate via CDC,
byte-compare source vs destination).

Fixture schemas mirror ReplicatorCorrectnessTestIT.java:193-252.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass, field

from pyspark.sql import types as T

from ..functions.streamid import make_stream_id
from ..functions.timeuuid import make_timeuuid
from ..model.schema import CdcTableDescriptor, build_cdc_log_schema


def _desc(name, fields, pk, ck, nonfrozen=(), lists=()):
    return CdcTableDescriptor(
        name=name,
        base_schema=T.StructType([T.StructField(n, t) for n, t in fields]),
        partition_keys=pk,
        clustering_keys=ck,
        non_frozen_collections=list(nonfrozen),
        list_columns=list(lists),
    )


_I, _S = T.IntegerType(), T.StringType()

FIXTURE_TABLES: dict[str, CdcTableDescriptor] = {
    "tbl_simple": _desc(
        "tbl_simple", [("pk", _S), ("ck", _I), ("v1", _I), ("v2", _S)], ["pk"], ["ck"]
    ),
    "tbl_multiple_clustering_keys": _desc(
        "tbl_multiple_clustering_keys",
        [("pk", _S), ("ck1", _I), ("ck2", _I), ("v", _I)],
        ["pk"],
        ["ck1", "ck2"],
    ),
    "tbl_blobs": _desc(
        "tbl_blobs", [("pk", _S), ("ck", _I), ("v", T.BinaryType())], ["pk"], ["ck"]
    ),
    "tbl_lists": _desc(
        "tbl_lists",
        [("pk", _S), ("ck", _I), ("v", T.ArrayType(_I))],
        ["pk"],
        ["ck"],
        nonfrozen=["v"],
        lists=["v"],
    ),
    "tbl_sets": _desc(
        "tbl_sets",
        [("pk", _S), ("ck", _I), ("v", T.ArrayType(_I))],
        ["pk"],
        ["ck"],
        nonfrozen=["v"],
    ),
    "tbl_maps": _desc(
        "tbl_maps",
        [("pk", _S), ("ck", _I), ("v", T.MapType(_I, _I))],
        ["pk"],
        ["ck"],
        nonfrozen=["v"],
    ),
    "tbl_tuples": _desc(
        "tbl_tuples",
        [
            ("pk", _S),
            ("ck", _I),
            ("v", T.StructType([T.StructField("_1", _I), T.StructField("_2", _S)])),
        ],
        ["pk"],
        ["ck"],
    ),
    "tbl_udts": _desc(
        "tbl_udts",
        [
            ("pk", _S),
            ("ck", _I),
            (
                "v",
                T.StructType(
                    [T.StructField("a", _I), T.StructField("b", _I), T.StructField("c", _S)]
                ),
            ),
        ],
        ["pk"],
        ["ck"],
        nonfrozen=["v"],
    ),
}


@dataclass
class CdcLogGenerator:
    """Encodes a DML script into CDC log rows and can generate random scripts.

    DML statement forms (plain tuples/dicts so the oracle stays independent):
      ("insert", pk_tuple, ck_tuple, {col: value}, ttl_or_None)
      ("update", pk_tuple, ck_tuple, {col: cellwrite})
      ("row_delete", pk_tuple, ck_tuple)
      ("partition_delete", pk_tuple)
      ("range_delete", pk_tuple, (ck_bound, incl), (ck_bound, incl))
    cellwrite: scalar value | None (tombstone) |
      {"overwrite": coll|None, "add": coll|None, "remove": [elems]} for
      non-frozen collections | {"fields": {...}, "remove_idx": [...]} for UDT.
    """

    desc: CdcTableDescriptor
    n_vnodes: int = 8
    seed: int = 42
    _t: int = field(default=1_600_000_000_000_000, init=False)
    _rows: list[dict] = field(default_factory=list, init=False)
    _uuid_ctr: int = field(default=0, init=False)

    def _next_time(self) -> int:
        self._t += random.Random(self._t).randrange(1, 1000) * 1000
        return self._t

    def _stream_for(self, pk_tuple) -> bytes:
        # crc32, not hash(): str hashes are salted per process, and a seeded
        # log must encode the same stream ids in every process
        h = zlib.crc32(repr(pk_tuple).encode()) & 0x7FFFFFFF
        return make_stream_id(h % self.n_vnodes, index=h % 4)

    def _fresh_uuid(self, micros: int) -> str:
        self._uuid_ctr += 1
        return str(make_timeuuid(micros, clock_seq_and_node=self._uuid_ctr))

    def _envelope(self, pk_tuple, micros, seq, op, end_of_batch=True, ttl=None) -> dict:
        from datetime import datetime, timedelta, timezone

        ts = datetime.fromtimestamp(micros // 1_000_000, tz=timezone.utc) + timedelta(
            microseconds=micros % 1_000_000
        )
        return {
            "cdc$stream_id": bytearray(self._stream_for(pk_tuple)),
            "cdc$time": self._fresh_uuid(micros) if seq == 0 else self._rows[-1]["cdc$time"],
            "cdc$time_ts": ts,
            "cdc$batch_seq_no": seq,
            "cdc$operation": op,
            "cdc$end_of_batch": end_of_batch,
            "cdc$ttl": ttl,
        }

    def encode(self, dml: list[tuple]) -> list[dict]:
        """Encode a DML script; returns rows matching build_cdc_log_schema."""
        desc = self.desc
        for stmt in dml:
            kind = stmt[0]
            micros = self._next_time()
            pk_t = stmt[1]
            base: dict = {c: None for c in [f.name for f in desc.base_schema.fields]}
            for c, v in zip(desc.partition_keys, pk_t):
                base[c] = v
            if kind in ("insert", "update"):
                _, _, ck_t, cells = stmt[:4]
                ttl = stmt[4] if kind == "insert" and len(stmt) > 4 else None
                for c, v in zip(desc.clustering_keys, ck_t):
                    base[c] = v
                row = self._envelope(pk_t, micros, 0, 2 if kind == "insert" else 1, ttl=ttl)
                row.update(base)
                for col, cw in cells.items():
                    self._encode_cell(row, col, cw, micros)
                self._rows.append(row)
            elif kind == "row_delete":
                _, _, ck_t = stmt
                for c, v in zip(desc.clustering_keys, ck_t):
                    base[c] = v
                row = self._envelope(pk_t, micros, 0, 3)
                row.update(base)
                self._rows.append(row)
            elif kind == "partition_delete":
                row = self._envelope(pk_t, micros, 0, 4)
                row.update(base)
                self._rows.append(row)
            elif kind == "range_delete":
                _, _, (lo, lo_incl), (hi, hi_incl) = stmt
                left = self._envelope(pk_t, micros, 0, 5 if lo_incl else 6, end_of_batch=False)
                left.update(base)
                for c, v in zip(desc.clustering_keys, lo):
                    left[c] = v
                self._rows.append(left)
                right = self._envelope(pk_t, micros, 1, 7 if hi_incl else 8)
                right.update(base)
                for c, v in zip(desc.clustering_keys, hi):
                    right[c] = v
                self._rows.append(right)
            else:
                raise ValueError(kind)
        return self._rows

    def _encode_cell(self, row: dict, col: str, cw, micros: int) -> None:
        desc = self.desc
        if col in desc.non_frozen_collections:
            kind_list = col in desc.list_columns
            dt = desc.base_field(col).dataType
            if isinstance(dt, T.StructType):  # non-frozen UDT
                fields = cw.get("fields") or {}
                names = [f.name for f in dt.fields]
                row[col] = tuple(fields.get(n) for n in names) if fields else None
                if cw.get("overwrite_null"):
                    row[f"cdc$deleted_{col}"] = True
                if cw.get("remove_idx"):
                    row[f"cdc$deleted_elements_{col}"] = [int(i) for i in cw["remove_idx"]]
                return
            overwrite = "overwrite" in cw
            payload = cw.get("overwrite") if overwrite else cw.get("add")
            if overwrite:
                row[f"cdc$deleted_{col}"] = True
            if payload is not None:
                if kind_list:
                    row[col] = {self._fresh_uuid(micros): v for v in payload}
                elif isinstance(dt, T.MapType):
                    row[col] = dict(payload)
                else:
                    row[col] = sorted(payload)
            if cw.get("remove"):
                row[f"cdc$deleted_elements_{col}"] = list(cw["remove"])
            return
        if cw is None:
            row[f"cdc$deleted_{col}"] = True
        else:
            if isinstance(desc.base_field(col).dataType, T.StructType) and isinstance(cw, dict):
                names = [f.name for f in desc.base_field(col).dataType.fields]
                cw = tuple(cw.get(n) for n in names)
            row[col] = cw

    def spark_df(self, spark, dml: list[tuple], shuffle: bool = True, duplicate_frac: float = 0.0):
        """Encode + optionally shuffle arrival order / inject duplicate rows."""
        rows = self.encode(dml)
        rng = random.Random(self.seed)
        if duplicate_frac:
            dups = [dict(r) for r in rows if rng.random() < duplicate_frac]
            rows = rows + dups
        if shuffle:
            rows = rows[:]
            rng.shuffle(rows)
        schema = build_cdc_log_schema(self.desc)
        return spark.createDataFrame(rows, schema)
