"""Lake sink: schema-change DDL generation and the metadata applier."""

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    ColumnPosition,
    ColumnWithPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    TruncateTableEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.sinks.lake import (
    LakeMetadataApplier,
    schema_change_to_ddl,
)

TID = TableId.parse("db.t")


def test_ddl_generation_all_types():
    schema = (
        new_schema()
        .physical_column("id", "BIGINT NOT NULL")
        .physical_column("v", "INT")
        .primary_key("id")
        .build()
    )
    assert schema_change_to_ddl("lk.t", CreateTableEvent(TID, schema)) == [
        "CREATE TABLE IF NOT EXISTS lk.t (id BIGINT, v INT) USING delta"
    ]
    add = AddColumnEvent(
        TID,
        (
            ColumnWithPosition(Column("a", ct.string())),
            ColumnWithPosition(Column("b", ct.int_()), ColumnPosition.AFTER, "id"),
            ColumnWithPosition(Column("c", ct.int_()), ColumnPosition.FIRST),
        ),
    )
    stmts = schema_change_to_ddl("lk.t", add)
    assert stmts[0] == "ALTER TABLE lk.t ADD COLUMN a STRING"
    assert stmts[1] == "ALTER TABLE lk.t ADD COLUMN b INT AFTER id"
    assert stmts[2] == "ALTER TABLE lk.t ADD COLUMN c INT FIRST"
    assert schema_change_to_ddl("lk.t", RenameColumnEvent(TID, (("v", "val"),))) == [
        "ALTER TABLE lk.t RENAME COLUMN v TO val"
    ]
    assert schema_change_to_ddl("lk.t", DropColumnEvent(TID, ("v",))) == [
        "ALTER TABLE lk.t DROP COLUMN v"
    ]
    assert schema_change_to_ddl(
        "lk.t", AlterColumnTypeEvent(TID, (("v", ct.bigint()),))
    ) == ["ALTER TABLE lk.t ALTER COLUMN v TYPE BIGINT"]
    assert schema_change_to_ddl("lk.t", TruncateTableEvent(TID)) == ["TRUNCATE TABLE lk.t"]
    assert schema_change_to_ddl("lk.t", DropTableEvent(TID)) == ["DROP TABLE IF EXISTS lk.t"]


def test_metadata_applier_type_filter(spark):
    executed = []
    applier = LakeMetadataApplier(
        spark, accepted_types=["add.column"], execute=executed.append
    )
    add = AddColumnEvent.last(TID, Column("x", ct.string()))
    drop = DropColumnEvent(TID, ("x",))
    assert applier.apply_schema_change("lk.t", add) != []
    assert applier.apply_schema_change("lk.t", drop) == []
    assert executed == ["ALTER TABLE lk.t ADD COLUMN x STRING"]
    assert applier.applied_sql == executed
