"""Checkpoint state stores (K4) — the reference's ``CDCStateStore`` SPI.

Structured Streaming's checkpointLocation already persists source offsets
(the primary T4 mechanism); this SPI exists for parity with the reference's
pluggable stores (scylla-cdc-lib/.../CDCStateStore.java; Redis example
examples/scylla-cdc-state-redis/.../RedisStateStore.java) and for batch
pipelines that manage their own cursors. The serde is the reference's
*documented stable* format (TaskStateSerde.java:30-48) via
``task_state_to_map``/``from_map`` — state written by either implementation
round-trips.

Delivery contract is the reference's: at-least-once — a crash between
consume and state write redelivers; the apply kernel's seeded convergence
absorbs the replay.
"""

from __future__ import annotations

import json
import os
import uuid

from .state import TaskId, TaskState, task_state_from_map, task_state_to_map


def commit_json(path: str, doc) -> None:
    """Atomic JSON commit: write ``<path>.tmp-<8 hex>``, then rename over
    ``path``. A crash before the rename leaves only the temp file (the
    replicator's vacuum deletes torn manifest commits by that name)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)


class InMemoryStateStore:
    """Ephemeral store (reference InMemoryStateStore,
    scylla-cdc-lib/.../InMemoryStateStore.java)."""

    def __init__(self) -> None:
        self._states: dict[TaskId, TaskState] = {}
        self._generation_ms: int | None = None

    # -- TaskState ----------------------------------------------------------
    def get_task_state(self, task_id: TaskId) -> TaskState | None:
        return self._states.get(task_id)

    def set_task_state(self, task_id: TaskId, state: TaskState) -> None:
        self._states[task_id] = state

    def delete_task_state(self, task_id: TaskId) -> None:
        self._states.pop(task_id, None)

    def task_states(self) -> dict[TaskId, TaskState]:
        return dict(self._states)

    # -- generation cursor --------------------------------------------------
    def get_current_generation(self) -> int | None:
        return self._generation_ms

    def set_current_generation(self, start_ms: int) -> None:
        self._generation_ms = start_ms

    def are_tasks_fully_consumed_until(self, task_ids, until_ms: int) -> bool:
        """A3 barrier over the stored states (reference
        InMemoryStateStore.areTasksFullyConsumedUntil,
        InMemoryStateStore.java:86-99): unknown tasks count as not consumed."""
        for tid in task_ids:
            st = self._states.get(tid)
            if st is None or not st.has_passed(until_ms):
                return False
        return True


class JsonFileStateStore(InMemoryStateStore):
    """Durable single-file store using the documented serde — the structural
    analog of the Redis example store (RedisStateStore.java:61+), with
    write-temp-then-rename commits."""

    def __init__(self, path: str) -> None:
        super().__init__()
        self._path = path
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            self._generation_ms = doc.get("generation_ms")
            for key, m in doc.get("tasks", {}).items():
                self._states[TaskId.from_key(key)] = task_state_from_map(m)

    def _commit(self) -> None:
        doc = {
            "generation_ms": self._generation_ms,
            "tasks": {
                tid.key(): task_state_to_map(st) for tid, st in self._states.items()
            },
        }
        commit_json(self._path, doc)

    def set_task_state(self, task_id: TaskId, state: TaskState) -> None:
        super().set_task_state(task_id, state)
        self._commit()

    def delete_task_state(self, task_id: TaskId) -> None:
        super().delete_task_state(task_id)
        self._commit()

    def set_current_generation(self, start_ms: int) -> None:
        super().set_current_generation(start_ms)
        self._commit()
