"""CDC log schema builder.

Builds the Spark ``StructType`` of a ``<table>_scylla_cdc_log`` stream from a
base-table description, per the reference wire layout (envelope columns +
frozen base columns + per-column deletion markers):

* envelope columns — reference RawChange.java:43-64, enumerated in
  WorkerTest.java:50-61 and FIXTURES.md §0;
* ``cdc$deleted_<col>`` BOOLEAN per regular column — RawChange.java:151-182;
* ``cdc$deleted_elements_<col>`` frozen set per NON-FROZEN collection column —
  RawChange.java:207-238;
* a non-frozen ``LIST<X>`` appears in the log as ``MAP<TIMEUUID, X>``
  (timeuuid keys carry list position) — Driver3SchemaFactory.java:189-229.

Column-kind metadata (partition key / clustering key / regular; cdc vs base)
mirrors ChangeSchema.ColumnDefinition (ChangeSchema.java:327-425) and is what
the apply kernel keys its merge on.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Envelope (FIXTURES.md §0). cdc$time is the canonical TIMEUUID string;
# cdc$time_ts is the derived event-time column (F1) so event-time ops stay
# native TimestampType.
CDC_ENVELOPE_FIELDS: list[T.StructField] = [
    T.StructField("cdc$stream_id", T.BinaryType(), False),
    T.StructField("cdc$time", T.StringType(), False),
    T.StructField("cdc$time_ts", T.TimestampType(), False),
    T.StructField("cdc$batch_seq_no", T.IntegerType(), False),
    T.StructField("cdc$operation", T.ByteType(), False),
    T.StructField("cdc$end_of_batch", T.BooleanType(), True),
    T.StructField("cdc$ttl", T.LongType(), True),
]

CDC_PREFIX = "cdc$"
DELETED_PREFIX = "cdc$deleted_"
DELETED_ELEMENTS_PREFIX = "cdc$deleted_elements_"


@dataclass
class CdcTableDescriptor:
    """Description of one CDC-enabled base table.

    ``base_schema`` holds the base-table columns in declaration order.
    ``partition_keys``/``clustering_keys`` name the primary key.
    ``non_frozen_collections`` flags collection columns with partial-update
    (delta) semantics; for those the log carries companion
    ``cdc$deleted_elements_*`` columns. ``list_columns`` is the subset whose
    base type is LIST (logged as MAP<timeuuid, elem>).
    """

    name: str
    base_schema: T.StructType
    partition_keys: list[str]
    clustering_keys: list[str] = field(default_factory=list)
    non_frozen_collections: list[str] = field(default_factory=list)
    list_columns: list[str] = field(default_factory=list)
    # replication metadata: True when the base table uses tablet-based
    # replication (per-table CDC generations) instead of vnodes. A CDC
    # consumer group must be mode-uniform (reference Master.java:46-65).
    uses_tablets: bool = False

    @property
    def primary_key(self) -> list[str]:
        return [*self.partition_keys, *self.clustering_keys]

    @property
    def regular_columns(self) -> list[str]:
        pk = set(self.primary_key)
        return [f.name for f in self.base_schema.fields if f.name not in pk]

    def base_field(self, name: str) -> T.StructField:
        return self.base_schema[name]


def _deleted_elements_type(dt: T.DataType) -> T.ArrayType:
    """Element type of cdc$deleted_elements_<col>: removed set elements / map
    keys / list position timeuuids / UDT field indices."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(dt.elementType)
    if isinstance(dt, T.MapType):
        return T.ArrayType(dt.keyType)
    if isinstance(dt, T.StructType):
        return T.ArrayType(T.ShortType())
    raise TypeError(f"non-frozen collection must be array/map/udt, got {dt}")


def log_value_type(desc: CdcTableDescriptor, col: str) -> T.DataType:
    """CDC-log type of a base column: lists are logged as map<timeuuid,elem>."""
    dt = desc.base_field(col).dataType
    if col in desc.list_columns:
        if not isinstance(dt, T.ArrayType):
            raise TypeError(f"list column {col} must have ArrayType base type")
        return T.MapType(T.StringType(), dt.elementType)
    return dt


def build_cdc_log_schema(desc: CdcTableDescriptor) -> T.StructType:
    """Full StructType of the CDC log stream for ``desc``."""
    fields = list(CDC_ENVELOPE_FIELDS)
    for f in desc.base_schema.fields:
        fields.append(T.StructField(f.name, log_value_type(desc, f.name), True))
    for col in desc.regular_columns:
        fields.append(T.StructField(f"{DELETED_PREFIX}{col}", T.BooleanType(), True))
    for col in desc.non_frozen_collections:
        fields.append(
            T.StructField(
                f"{DELETED_ELEMENTS_PREFIX}{col}",
                _deleted_elements_type(log_value_type(desc, col)),
                True,
            )
        )
    return T.StructType(fields)


def descriptor_diff(
    old: CdcTableDescriptor, new: CdcTableDescriptor
) -> tuple[list[str], list[str]]:
    """Schema evolution between two versions of a table descriptor:
    returns ``(added, dropped)`` regular columns (ALTER TABLE ADD/DROP —
    the cases the reference's schema factory reconciles mid-stream,
    Driver3SchemaFactory.java:73-153, and its AlterTableBase integration
    tests exercise). CQL cannot alter primary-key columns; a pk/ck
    mismatch raises."""
    if old.primary_key != new.primary_key:
        raise ValueError(
            f"primary key changed {old.primary_key} -> {new.primary_key}; "
            "CQL schema evolution cannot alter key columns"
        )
    o, n = set(old.regular_columns), set(new.regular_columns)
    added = [c for c in new.regular_columns if c not in o]
    dropped = [c for c in old.regular_columns if c not in n]
    return added, dropped


def conform_column(col, have: T.DataType, want: T.DataType):
    """Reconcile ONE column written under an older nested layout with the
    current type — the UDT-field-level half of schema evolution (reference
    AlterUpdateUdtIT: ``ALTER TYPE ... ADD`` widens a UDT mid-stream).

    Struct fields the new type added become typed NULLs, fields it
    dropped disappear, recursively through arrays and map values; scalar
    mismatches fall back to a cast. NULL structs stay NULL (a struct()
    rebuild would otherwise manufacture a non-null row of NULL fields).
    """
    from pyspark.sql import functions as F

    if have == want:
        return col
    if isinstance(have, T.StructType) and isinstance(want, T.StructType):
        hf = {f.name: f for f in have.fields}
        inner = [
            conform_column(col.getField(f.name), hf[f.name].dataType, f.dataType).alias(
                f.name
            )
            if f.name in hf
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in want.fields
        ]
        return F.when(col.isNull(), F.lit(None).cast(want)).otherwise(F.struct(*inner))
    if isinstance(have, T.ArrayType) and isinstance(want, T.ArrayType):
        return F.transform(
            col, lambda x: conform_column(x, have.elementType, want.elementType)
        )
    if isinstance(have, T.MapType) and isinstance(want, T.MapType):
        return F.transform_values(
            col, lambda _, v: conform_column(v, have.valueType, want.valueType)
        )
    return col.cast(want)
