"""Scoped cache lifetimes: the package's one way to cache a DataFrame.

:func:`cache` caches a frame and records it in the innermost
:func:`cache_scope` open on the calling thread. Leaving that scope, by
return or by exception, unpersists every frame recorded in it. Outside
any scope a cached frame stays cached for the session (a caller that
composes many operator calls releases them with
``spark.catalog.clearCache()``, as bench.py does per query).

Open a scope around a unit of work whose every consumer of the cached
frames runs inside it: an operator whose internal consumers are all
eager (``kmeans_train``, ``pq_codebooks``), or one ``foreachBatch``
body, where the scope also releases the caches of the lazy-return
operators it calls. Scopes nest; each releases only its own frames.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_SCOPES = _Scopes()


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, released when the innermost open scope exits."""
    df = df.cache()
    if _SCOPES.stack:
        _SCOPES.stack[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist (non-blocking) every frame :func:`cache` records inside
    the ``with`` block when it exits."""
    frames: list[DataFrame] = []
    _SCOPES.stack.append(frames)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        for df in frames:
            try:
                df.unpersist(blocking=False)
            except Py4JError:  # session already stopped: nothing to release
                pass
