"""Change-stream normalization.

Adds the derived columns every downstream operator keys on — event time
(F1 decode of ``cdc$time``), vnode (F3), and a sortable change-id — as
*native* column expressions so normalization is free inside whole-stage
codegen. Mirrors what the reference computes lazily per accessed cell
(Driver3RawChange.java:19-41) but column-oriented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.streamid import vnode_col
from ..functions.timeuuid import timeuuid_micros_col, timeuuid_ts_col

TIME_TS = "cdc$time_ts"
TIME_MICROS = "cdc$time_micros"
VNODE = "cdc$vnode"


def normalize_changes(df: DataFrame, with_vnode: bool = False) -> DataFrame:
    """Ensure ``cdc$time_ts``/``cdc$time_micros`` (and optionally ``cdc$vnode``).

    Idempotent: derives only the columns not already present.
    """
    cols = set(df.columns)
    if TIME_MICROS not in cols:
        if TIME_TS in cols:
            # cast is a no-op for TimestampType; for TIMESTAMP_NTZ inputs
            # (parquet without UTC annotation under Spark 4 inference) it
            # reinterprets the wall clock in the session tz, which every
            # entry point pins to UTC — identical semantics either way.
            df = df.withColumn(
                TIME_MICROS, F.expr(f"unix_micros(CAST(`{TIME_TS}` AS TIMESTAMP))")
            )
        else:
            df = df.withColumn(TIME_MICROS, timeuuid_micros_col("cdc$time"))
    if TIME_TS not in cols:
        df = df.withColumn(TIME_TS, timeuuid_ts_col("cdc$time"))
    if with_vnode and VNODE not in cols:
        df = df.withColumn(VNODE, vnode_col("cdc$stream_id"))
    return df
