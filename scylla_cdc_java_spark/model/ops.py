"""CDC operation types.

The 10 operation codes of a CDC log row (reference:
scylla-cdc-base/.../model/worker/RawChange.java:17-41).
"""

from __future__ import annotations

from enum import IntEnum


class OperationType(IntEnum):
    PRE_IMAGE = 0
    ROW_UPDATE = 1
    ROW_INSERT = 2
    ROW_DELETE = 3
    PARTITION_DELETE = 4
    ROW_RANGE_DELETE_INCLUSIVE_LEFT_BOUND = 5
    ROW_RANGE_DELETE_EXCLUSIVE_LEFT_BOUND = 6
    ROW_RANGE_DELETE_INCLUSIVE_RIGHT_BOUND = 7
    ROW_RANGE_DELETE_EXCLUSIVE_RIGHT_BOUND = 8
    POST_IMAGE = 9

    @property
    def is_range_delete_left(self) -> bool:
        return self in (
            OperationType.ROW_RANGE_DELETE_INCLUSIVE_LEFT_BOUND,
            OperationType.ROW_RANGE_DELETE_EXCLUSIVE_LEFT_BOUND,
        )

    @property
    def is_range_delete_right(self) -> bool:
        return self in (
            OperationType.ROW_RANGE_DELETE_INCLUSIVE_RIGHT_BOUND,
            OperationType.ROW_RANGE_DELETE_EXCLUSIVE_RIGHT_BOUND,
        )

    @property
    def is_image(self) -> bool:
        return self in (OperationType.PRE_IMAGE, OperationType.POST_IMAGE)

    @property
    def is_delta_write(self) -> bool:
        return self in (OperationType.ROW_UPDATE, OperationType.ROW_INSERT)
