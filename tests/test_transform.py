"""Transform operator tests over an in-memory values-style changelog.

Mirrors the reference's PostTransformOperatorTest / UnifiedTransformOperatorTest
scenarios (SURVEY.md §5.1.2): projection with wildcard/computed/metadata
columns, filter with UPDATE splitting, SOFT_DELETE conversion.
"""

import pytest
from pyspark.sql import functions as F

from flink_cdc_spark.core.events import CreateTableEvent, DataChangeEvent
from flink_cdc_spark.core.schema import new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.operators.transform import TransformRule, apply_transform
from flink_cdc_spark.sinks.materialize import materialize_changelog
from flink_cdc_spark.sources.values_source import ValuesSource

TID = TableId.parse("db.users")

SCHEMA = (
    new_schema()
    .physical_column("id", "BIGINT NOT NULL")
    .physical_column("name", "STRING")
    .physical_column("age", "INT")
    .primary_key("id")
    .build()
)


def make_changelog(spark, events):
    src = ValuesSource(spark, [CreateTableEvent(TID, SCHEMA), *events])
    epochs = [e for e in src.epochs() if hasattr(e, "data_events")]
    assert len(epochs) == 1
    return src.epoch_dataframe(epochs[0])


def test_projection_computed_and_metadata(spark):
    df = make_changelog(
        spark,
        [DataChangeEvent.insert(TID, (1, "alice", 30))],
    )
    rule = TransformRule(
        source_table="db.users",
        projection=r"\*, UPPER(name) AS uname, __table_name__ AS tbl, __data_event_type__ AS op_type",
    )
    out = apply_transform(df, rule)
    row = out.select("after.*").collect()[0]
    assert row.uname == "ALICE"
    assert row.tbl == "users"
    assert row.op_type == "+I"
    assert row.id == 1 and row.name == "alice" and row.age == 30


def test_projection_explicit_overrides_wildcard(spark):
    df = make_changelog(spark, [DataChangeEvent.insert(TID, (1, "alice", 30))])
    rule = TransformRule(source_table="db.users", projection=r"\*, UPPER(name) AS name")
    out = apply_transform(df, rule)
    assert out.select("after.*").columns == ["id", "name", "age"]
    assert out.select("after.name").collect()[0][0] == "ALICE"


def test_filter_basic(spark):
    df = make_changelog(
        spark,
        [
            DataChangeEvent.insert(TID, (1, "alice", 30)),
            DataChangeEvent.insert(TID, (2, "bob", 17)),
        ],
    )
    rule = TransformRule(source_table="db.users", filter="age >= 18")
    out = apply_transform(df, rule)
    rows = out.select("after.*").collect()
    assert [r.id for r in rows] == [1]


def test_filter_on_computed_column(spark):
    df = make_changelog(
        spark,
        [
            DataChangeEvent.insert(TID, (1, "alice", 30)),
            DataChangeEvent.insert(TID, (2, "bob", 17)),
        ],
    )
    rule = TransformRule(
        source_table="db.users",
        projection="id, UPPER(name) AS uname",
        filter="uname = 'ALICE'",
    )
    out = apply_transform(df, rule)
    rows = out.select("after.*").collect()
    assert len(rows) == 1 and rows[0].uname == "ALICE"


def test_update_splitting(spark):
    # filter: age >= 18
    # u1: 17 -> 30  => INSERT (N/Y)
    # u2: 30 -> 17  => DELETE (Y/N)
    # u3: 20 -> 25  => UPDATE (Y/Y)
    # u4: 10 -> 11  => dropped (N/N)
    events = [
        DataChangeEvent.update(TID, (1, "u1", 17), (1, "u1", 30)),
        DataChangeEvent.update(TID, (2, "u2", 30), (2, "u2", 17)),
        DataChangeEvent.update(TID, (3, "u3", 20), (3, "u3", 25)),
        DataChangeEvent.update(TID, (4, "u4", 10), (4, "u4", 11)),
    ]
    df = make_changelog(spark, events)
    rule = TransformRule(source_table="db.users", filter="age >= 18")
    out = apply_transform(df, rule).orderBy("__seq")
    rows = out.collect()
    assert [r["__op"] for r in rows] == ["INSERT", "DELETE", "UPDATE"]
    ins, dele, upd = rows
    assert ins["after"].id == 1 and ins["before"] is None
    assert dele["before"].id == 2 and dele["after"] is None
    assert upd["before"].age == 20 and upd["after"].age == 25


def test_insert_delete_filtering(spark):
    events = [
        DataChangeEvent.insert(TID, (1, "a", 30)),
        DataChangeEvent.delete(TID, (1, "a", 30)),
        DataChangeEvent.insert(TID, (2, "b", 10)),
        DataChangeEvent.delete(TID, (2, "b", 10)),
    ]
    df = make_changelog(spark, events)
    rule = TransformRule(source_table="db.users", filter="age >= 18")
    out = apply_transform(df, rule)
    assert out.count() == 2  # only id=1's insert+delete survive
    assert set(r["__op"] for r in out.collect()) == {"INSERT", "DELETE"}


def test_soft_delete(spark):
    events = [
        DataChangeEvent.insert(TID, (1, "a", 30)),
        DataChangeEvent.delete(TID, (1, "a", 30)),
    ]
    df = make_changelog(spark, events)
    rule = TransformRule(
        source_table="db.users",
        projection=r"\*, __data_event_type__ AS op_type",
        converter_after_transform="SOFT_DELETE",
    )
    out = apply_transform(df, rule).orderBy("__seq")
    rows = out.collect()
    assert [r["__op"] for r in rows] == ["INSERT", "INSERT"]
    assert rows[1]["after"].op_type == "-D"  # metadata evaluated pre-conversion
    assert rows[1]["before"] is None


def test_materialize_last_per_key(spark):
    """Last image per key, a DELETE's key taken from its before image —
    also the data file of every IcebergTableStore commit."""
    events = [
        DataChangeEvent.insert(TID, (1, "a", 30)),
        DataChangeEvent.insert(TID, (2, "b", 40)),
        DataChangeEvent.update(TID, (1, "a", 30), (1, "a2", 31)),
        DataChangeEvent.delete(TID, (2, "b", 40)),
        DataChangeEvent.insert(TID, (3, "c", 50)),
        # inserted then deleted in the same frame: absent
        DataChangeEvent.insert(TID, (4, "d", 60)),
        DataChangeEvent.delete(TID, (4, "d", 60)),
        # deleted (a prior frame's row) then re-inserted: present
        DataChangeEvent.delete(TID, (5, "e", 70)),
        DataChangeEvent.insert(TID, (5, "e2", 71)),
    ]
    want = [(1, "a2", 31), (3, "c", 50), (5, "e2", 71)]
    df = make_changelog(spark, events)

    def final(frame, keys):
        rows = materialize_changelog(frame, keys).collect()
        return sorted((r.id, r.name, r.age) for r in rows)

    assert final(df, ["id"]) == want
    # rows supplied out of __seq order: the order comes from __seq alone
    newest_first = df.orderBy(F.col("__seq").desc()).collect()
    reordered = spark.createDataFrame(newest_first, df.schema)
    seqs = [r["__seq"] for r in reordered.collect()]
    assert seqs == sorted(seqs, reverse=True) and len(set(seqs)) > 1
    assert final(reordered.repartition(3), ["id"]) == want

    # composite primary key: (id, name) rows are distinct keys
    composite = make_changelog(
        spark,
        [
            DataChangeEvent.insert(TID, (1, "x", 1)),
            DataChangeEvent.insert(TID, (1, "y", 2)),
            DataChangeEvent.insert(TID, (2, "x", 3)),
            DataChangeEvent.update(TID, (1, "x", 1), (1, "x", 5)),
            DataChangeEvent.delete(TID, (1, "y", 2)),
            DataChangeEvent.delete(TID, (2, "y", 9)),
        ],
    )
    assert final(composite, ["id", "name"]) == [(1, "x", 5), (2, "x", 3)]


def test_materialize_insert_only_no_shuffle(spark):
    events = [DataChangeEvent.insert(TID, (i, f"u{i}", 20 + i)) for i in range(5)]
    df = make_changelog(spark, events)
    final = materialize_changelog(df, ["id"], insert_only=True)
    assert final.count() == 5
    plan = final._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # fast path must not shuffle


def test_error_unknown_column(spark):
    df = make_changelog(spark, [DataChangeEvent.insert(TID, (1, "a", 30))])
    rule = TransformRule(source_table="db.users", projection="id, nope")
    with pytest.raises(Exception) as ei:
        apply_transform(df, rule)
    assert "not found" in str(ei.value)
