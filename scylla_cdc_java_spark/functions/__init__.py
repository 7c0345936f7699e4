from .timeuuid import (
    GREGORIAN_OFFSET_100NS,
    end_of_ms,
    make_timeuuid,
    start_of_ms,
    timeuuid_micros,
    timeuuid_micros_col,
    timeuuid_ts_col,
)
from .streamid import (
    make_stream_id,
    vnode_from_stream_id,
    vnode_col,
)
from .cqltypes import (
    descriptor_from_cql,
    min_table_ttl_ms,
    parse_cql_type,
    validate_descriptor,
)
from .render import format_change, format_cql_date, format_cql_duration
from .retry import ExponentialRetryBackoffWithJitter

__all__ = [
    "GREGORIAN_OFFSET_100NS",
    "end_of_ms",
    "make_timeuuid",
    "start_of_ms",
    "timeuuid_micros",
    "timeuuid_micros_col",
    "timeuuid_ts_col",
    "make_stream_id",
    "vnode_from_stream_id",
    "vnode_col",
    "format_change",
    "format_cql_date",
    "format_cql_duration",
    "parse_cql_type",
    "descriptor_from_cql",
    "validate_descriptor",
    "min_table_ttl_ms",
    "ExponentialRetryBackoffWithJitter",
]
