"""Lake-table schema evolution: CDC schema-change events as catalog DDL.

The Spark mapping of the reference's lake-sink metadata appliers
(pipeline-connector-paimon/.../PaimonMetadataApplier.java, iceberg/hudi
modules): schema events become ``ALTER TABLE`` DDL, executed by a
MetadataApplier analog with accepted-type filtering
(common/sink/MetadataApplier.java:33-39). ``IcebergTableStore`` records
the same DDL next to its own metadata-only schema evolution; data
changes land through the table stores themselves (``LsmStateStore``,
``IcebergTableStore``, ``HudiTableStore``), never through generated SQL.
The three stores share one data path, ``lsm_store.py``'s commit files:
``write_commit`` writes one, ``merge_commits`` merges them on read and
a compaction writes the merge back as a base. Each store keeps only its
own metadata — the LSM manifest, Iceberg's versioned metadata and
snapshots, Hudi's ``hoodie.properties`` and timeline.
"""

from __future__ import annotations

from typing import Iterable, List, Optional

from ..core.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    AlterTableCommentEvent,
    ColumnPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
    expand_schema_change_types,
)
from ..core.types import to_spark_type


def _sql_type(dt) -> str:
    return to_spark_type(dt).simpleString().upper()


def schema_change_to_ddl(table: str, event: SchemaChangeEvent) -> List[str]:
    """SchemaChangeEvent -> ALTER TABLE statements (Delta/Iceberg dialect)."""
    if isinstance(event, CreateTableEvent):
        cols = ", ".join(
            f"{c.name} {_sql_type(c.type)}" for c in event.schema.columns
        )
        return [f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING delta"]
    if isinstance(event, AddColumnEvent):
        out = []
        for cp in event.added_columns:
            pos = ""
            if cp.position == ColumnPosition.FIRST:
                pos = " FIRST"
            elif cp.position == ColumnPosition.AFTER and cp.existed_column_name:
                pos = f" AFTER {cp.existed_column_name}"
            elif cp.position == ColumnPosition.BEFORE:
                # SQL has no BEFORE; emit AFTER of the previous column is
                # sink-specific — fall back to unpositioned add
                pos = ""
            out.append(
                f"ALTER TABLE {table} ADD COLUMN {cp.column.name} "
                f"{_sql_type(cp.column.type)}{pos}"
            )
        return out
    if isinstance(event, DropColumnEvent):
        return [
            f"ALTER TABLE {table} DROP COLUMN {name}"
            for name in event.dropped_column_names
        ]
    if isinstance(event, RenameColumnEvent):
        return [
            f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}"
            for old, new in event.name_mapping
        ]
    if isinstance(event, AlterColumnTypeEvent):
        return [
            f"ALTER TABLE {table} ALTER COLUMN {name} TYPE {_sql_type(dt)}"
            for name, dt in event.type_mapping
        ]
    if isinstance(event, AlterTableCommentEvent):
        comment = (event.comment or "").replace("'", "''")
        return [f"COMMENT ON TABLE {table} IS '{comment}'"]
    if isinstance(event, TruncateTableEvent):
        return [f"TRUNCATE TABLE {table}"]
    if isinstance(event, DropTableEvent):
        return [f"DROP TABLE IF EXISTS {table}"]
    raise TypeError(f"Unsupported schema change {event!r}")


class LakeMetadataApplier:
    """MetadataApplier analog (common/sink/MetadataApplier.java:33-39):
    executes schema-change DDL on the sink catalog, honoring the
    accepted-evolution-type set."""

    def __init__(self, spark, accepted_types: Optional[Iterable[str]] = None, execute=None):
        self.spark = spark
        self.accepted = (
            expand_schema_change_types(accepted_types) if accepted_types else None
        )
        # injectable executor for testing; default runs spark.sql
        self._execute = execute or (lambda sql: self.spark.sql(sql))
        self.applied_sql: List[str] = []

    def accepts(self, event: SchemaChangeEvent) -> bool:
        if event.TYPE == "CREATE_TABLE":
            return True
        return self.accepted is None or event.TYPE in self.accepted

    def apply_schema_change(self, table: str, event: SchemaChangeEvent) -> List[str]:
        if not self.accepts(event):
            return []
        stmts = schema_change_to_ddl(table, event)
        for s in stmts:
            self._execute(s)
        self.applied_sql.extend(stmts)
        return stmts
