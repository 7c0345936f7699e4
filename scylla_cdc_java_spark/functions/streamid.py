"""Stream-id (16-byte CDC partition key) functions.

F3: the vnode index lives in bits 4..25 of the low 64-bit word (bytes
8..15) of the stream id: ``(lowerQword & 0x3FFFFF0) >> 4``
(reference: scylla-cdc-base/.../model/StreamId.java:15-21).
F6, the hex rendering (StreamId.java:36-41), is Spark's own ``hex``.

F3 is provided as pure Python (driver-side planning, tests) and as a
native Spark column expression (JVM-side, codegen) — the mask covers
only the low 32 bits, so we convert just the last 8 hex chars.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_VNODE_MASK = 0x3FFFFF0


def vnode_from_stream_id(stream_id: bytes) -> int:
    """Pure-Python F3 for 16-byte stream ids."""
    if len(stream_id) != 16:
        raise ValueError(f"stream id must be 16 bytes, got {len(stream_id)}")
    lower = int.from_bytes(stream_id[8:16], "big")
    return (lower & _VNODE_MASK) >> 4

def make_stream_id(vnode: int, index: int = 0, version: int = 1) -> bytes:
    """Deterministic 16-byte stream id embedding ``vnode`` in bits 4..25.

    Layout (for fixtures): upper qword = ``index``; lower qword =
    ``vnode << 4 | version``. Inverse of ``vnode_from_stream_id``.
    """
    if not (0 <= vnode < (1 << 22)):
        raise ValueError("vnode must fit in 22 bits")
    lower = ((vnode << 4) & _VNODE_MASK) | (version & 0xF)
    return index.to_bytes(8, "big") + lower.to_bytes(8, "big")


def vnode_col(col: Column | str) -> Column:
    """Native-expression F3 over a BinaryType column."""
    c = F.col(col) if isinstance(col, str) else col
    low32 = F.conv(F.substring(F.hex(c), 25, 8), 16, 10).cast("long")
    return F.shiftright(low32.bitwiseAND(F.lit(_VNODE_MASK)), 4).cast("long")
