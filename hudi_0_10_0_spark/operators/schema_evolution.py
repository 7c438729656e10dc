"""Schema evolution operators.

Reference: add-column via SQL ``ALTER TABLE ADD COLUMNS``
(``sql/hudi/command/AlterHoodieTableAddColumnsCommand.scala``), column
type change via ``ALTER TABLE CHANGE COLUMN`` (same dir, validated
widening only), and write-time "reconcile schema"
(``ds/HoodieSparkSqlWriter.scala:168``). The reference commits the new
Avro schema with an empty commit; we commit the new Spark schema JSON
the same way — data files are never rewritten, readers pin the latest
schema and old files surface typed nulls for added columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

from ..config import DELETE_MARKER_COL, META_COLS
from ..metadata import make_commit_metadata

# widenings Spark's parquet reader can apply file→table
# (AlterHoodieTableChangeColumnCommand validates with the same idea).
# date→timestamp is deliberately ABSENT: Spark's vectorized parquet
# reader cannot read date32 pages under a pinned TimestampType schema
# (SchemaColumnConvertNotSupportedException), so committing it would
# make every pre-existing file unreadable.
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def is_widening(old: T.DataType, new: T.DataType) -> bool:
    """THE single definition of a legal column-type widening — used by
    both ``change_column_type`` validation and commit-time schema
    reconcile (metadata._merge_schema_json), so the two can't drift."""
    if (old.typeName(), new.typeName()) in _WIDENINGS:
        return True
    return (
        isinstance(old, T.DecimalType)
        and isinstance(new, T.DecimalType)
        and new.precision >= old.precision
        and new.scale >= old.scale
        and (new.precision - new.scale) >= (old.precision - old.scale)
    )


def _commit_schema(table, new_schema: T.StructType, operation: str) -> str:
    from ..concurrency import txn_start_marker
    from .write import WriteInstant

    # the shared write-instant lifecycle: the heartbeat guards the
    # pending window (advice r5) so a rival's lazy failed-write sweep
    # never judges this pending DDL crashed
    with WriteInstant.open(table, "ddl", "commit", operation) as wi:
        md = make_commit_metadata(operation, new_schema.json(), [])
        # through the OCC gate: serializes concurrent DDLs under the table
        # lock, and the gate's reconcile-on-commit folds in any OTHER schema
        # change that completed while this one was being prepared
        instant = wi.commit(md, txn_start_marker(table))
    table._schema_cache = None
    return instant


def add_columns(table, fields: list[tuple[str, str]] | T.StructType) -> str:
    """Append nullable columns to the table schema (empty commit carrying
    the evolved schema). ``fields`` = [(name, simple_type_string)] or a
    StructType."""
    cur = table.read_schema()
    if isinstance(fields, T.StructType):
        new_fields = list(fields.fields)
    else:
        new_fields = [
            T.StructField(n, T._parse_datatype_string(t), True) for n, t in fields
        ]
    names = {f.name for f in cur.fields}
    for f in new_fields:
        if f.name in names:
            raise ValueError(f"column already exists: {f.name}")
    # keep layout convention: meta cols, data cols, delete marker last
    out = [f for f in cur.fields if f.name != DELETE_MARKER_COL]
    out += [T.StructField(f.name, f.dataType, True) for f in new_fields]
    out += [f for f in cur.fields if f.name == DELETE_MARKER_COL]
    return _commit_schema(table, T.StructType(out), "alter_add_columns")


def change_column_type(table, name: str, new_type: str | T.DataType) -> str:
    """Widen a column's type (int→long, float→double, …); narrowing or
    incompatible changes are rejected like the reference's
    ``AlterHoodieTableChangeColumnCommand``."""
    cur = table.read_schema()
    if name in META_COLS or name == DELETE_MARKER_COL:
        raise ValueError(f"cannot alter meta column: {name}")
    tgt = (
        T._parse_datatype_string(new_type) if isinstance(new_type, str) else new_type
    )
    out = []
    found = False
    for f in cur.fields:
        if f.name != name:
            out.append(f)
            continue
        found = True
        if f.dataType == tgt:
            raise ValueError(f"column {name} already has type {tgt.simpleString()}")
        if not is_widening(f.dataType, tgt):
            raise ValueError(
                f"unsupported type change for {name}: "
                f"{f.dataType.simpleString()} → {tgt.simpleString()}"
            )
        out.append(T.StructField(name, tgt, f.nullable))
    if not found:
        raise ValueError(f"no such column: {name}")
    return _commit_schema(table, T.StructType(out), "alter_change_column")
