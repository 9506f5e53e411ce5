"""Schema-evolution pipeline tests: scripted DDL+DML streams through the
EventPipelineComposer under each behavior — the analog of the reference's
SchemaEvolveTest / FlinkPipelineComposerLenientITCase (SURVEY.md §5.1.2/4)."""

import pytest

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    ColumnWithPosition,
    CreateTableEvent,
    DataChangeEvent,
    DropColumnEvent,
    RenameColumnEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline import parse_pipeline_yaml
from flink_cdc_spark.pipeline.composer import EventPipelineComposer
from flink_cdc_spark.pipeline.schema_coordinator import SchemaEvolveError

TID = TableId.parse("db.t1")

BASE = (
    new_schema()
    .physical_column("id", "BIGINT NOT NULL")
    .physical_column("name", "STRING")
    .primary_key("id")
    .build()
)


def make_composer(spark, behavior="LENIENT", transforms="", routes=""):
    yaml_text = f"""
source: {{type: values}}
sink: {{type: values}}
{transforms}
{routes}
pipeline:
  execution.runtime-mode: BATCH
  schema.change.behavior: {behavior}
"""
    return EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))


def base_events():
    return [
        CreateTableEvent(TID, BASE),
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.insert(TID, (2, "b")),
    ]


def test_add_column_evolve(spark):
    events = base_events() + [
        AddColumnEvent.last(TID, Column("score", ct.int_())),
        DataChangeEvent.insert(TID, (3, "c", 30)),
    ]
    result = make_composer(spark, "EVOLVE").run(events)
    rows = {r.id: (r.name, r.score) for r in result.tables["db.t1"].collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}


def test_rename_column_lenient_keeps_old(spark):
    events = base_events() + [
        RenameColumnEvent(TID, (("name", "full_name"),)),
        DataChangeEvent.insert(TID, (3, "c")),  # payload now (id, full_name)
    ]
    result = make_composer(spark, "LENIENT").run(events)
    df = result.tables["db.t1"]
    assert set(df.columns) == {"id", "name", "full_name"}
    rows = {r.id: (r.name, r.full_name) for r in df.orderBy("id").collect()}
    # old rows keep name, new rows populate full_name
    assert rows[1] == ("a", None) and rows[3] == (None, "c")


def test_rename_column_evolve_renames(spark):
    events = base_events() + [
        RenameColumnEvent(TID, (("name", "full_name"),)),
        DataChangeEvent.insert(TID, (3, "c")),
    ]
    result = make_composer(spark, "EVOLVE").run(events)
    df = result.tables["db.t1"]
    assert set(df.columns) == {"id", "full_name"}
    rows = {r.id: r.full_name for r in df.collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_drop_column_lenient_nulls(spark):
    events = base_events() + [
        DropColumnEvent(TID, ("name",)),
        DataChangeEvent.insert(TID, (3,)),
    ]
    result = make_composer(spark, "LENIENT").run(events)
    df = result.tables["db.t1"]
    assert set(df.columns) == {"id", "name"}
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "a", 2: "b", 3: None}


def test_alter_type_widening(spark):
    events = [
        CreateTableEvent(TID, (
            new_schema()
            .physical_column("id", "BIGINT NOT NULL")
            .physical_column("v", "INT")
            .primary_key("id")
            .build()
        )),
        DataChangeEvent.insert(TID, (1, 10)),
        AlterColumnTypeEvent(TID, (("v", ct.bigint()),)),
        DataChangeEvent.insert(TID, (2, 5_000_000_000)),
    ]
    result = make_composer(spark, "EVOLVE").run(events)
    df = result.tables["db.t1"]
    assert dict(df.dtypes)["v"] == "bigint"
    rows = {r.id: r.v for r in df.collect()}
    assert rows == {1: 10, 2: 5_000_000_000}


def test_ignore_behavior(spark):
    events = base_events() + [
        AddColumnEvent.last(TID, Column("score", ct.int_())),
        DataChangeEvent.insert(TID, (3, "c", 30)),
    ]
    result = make_composer(spark, "IGNORE").run(events)
    df = result.tables["db.t1"]
    assert set(df.columns) == {"id", "name"}  # column never added downstream
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_exception_behavior(spark):
    events = base_events() + [AddColumnEvent.last(TID, Column("score", ct.int_()))]
    with pytest.raises(SchemaEvolveError):
        make_composer(spark, "EXCEPTION").run(events)


def test_schema_change_blocked_by_explicit_projection(spark):
    transforms = """
transform:
  - source-table: db.t1
    projection: id, UPPER(name) AS uname
"""
    events = base_events() + [
        AddColumnEvent.last(TID, Column("score", ct.int_())),
        DataChangeEvent.insert(TID, (3, "c", 30)),
    ]
    result = make_composer(spark, "EVOLVE", transforms=transforms).run(events)
    df = result.tables["db.t1"]
    assert set(df.columns) == {"id", "uname"}
    rows = {r.id: r.uname for r in df.collect()}
    assert rows == {1: "A", 2: "B", 3: "C"}


def _n_to_1_widening(spark, tmp_path, b_type, b_value):
    """Shards db.shard_a (v INT) and db.shard_b (v `b_type`) routed into
    db.merged, through the event composer and, replayed as a wire file,
    through the streaming runner. Returns both sink tables."""
    from flink_cdc_spark.core.schema_evolution import merge_create_table_events
    from flink_cdc_spark.streaming import StreamingPipelineRunner, write_wire_file

    t_a, t_b = TableId.parse("db.shard_a"), TableId.parse("db.shard_b")
    schema_a = (
        new_schema().physical_column("id", "BIGINT NOT NULL").physical_column("v", "INT")
        .primary_key("id").build()
    )
    schema_b = (
        new_schema().physical_column("id", "BIGINT NOT NULL").physical_column("v", b_type)
        .primary_key("id").build()
    )
    routes = """
route:
  - source-table: db.shard_\\.*
    sink-table: db.merged
"""
    events = [
        CreateTableEvent(t_a, schema_a),
        DataChangeEvent.insert(t_a, (1, 10)),
        CreateTableEvent(t_b, schema_b),
        DataChangeEvent.insert(t_b, (2, b_value)),
    ]
    composer = make_composer(spark, "EVOLVE", routes=routes)
    result = composer.run(events)
    merged = TableId.parse("db.merged")
    coordinator = composer.front.coordinator
    # the widening reaches the sink as difference events, one schema
    # version per event, ending at the merged CREATE's schema
    assert [ev.TYPE for ev in coordinator.ddl_log[merged]] == [
        "CREATE_TABLE", "ALTER_COLUMN_TYPE"
    ]
    assert len(coordinator.evolved_schemas[merged]) == 2
    assert coordinator.evolved_schema(merged) == merge_create_table_events(
        merged, [schema_a, schema_b]
    )

    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), events)
    runner = StreamingPipelineRunner(
        spark, composer.front.pipeline, state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    runner.run_available(str(src))
    return result.tables["db.merged"], runner.state.read("db.merged")


def test_n_to_1_merge_with_create_widening(spark, tmp_path):
    composed, streamed = _n_to_1_widening(spark, tmp_path, "DOUBLE", 2.5)
    for df in (composed, streamed):
        assert dict(df.dtypes)["v"] == "double"
        assert {r.id: r.v for r in df.collect()} == {1: 10.0, 2: 2.5}


def test_n_to_1_merge_bigint_widening_runner_matches_composer(spark, tmp_path):
    """INT + BIGINT: a value past the INT range reads back from the
    runner's state, so its manifest was widened, not pinned at INT."""
    composed, streamed = _n_to_1_widening(spark, tmp_path, "BIGINT", 5_000_000_000)
    for df in (composed, streamed):
        assert dict(df.dtypes)["v"] == "bigint"
        assert {r.id: r.v for r in df.collect()} == {1: 10, 2: 5_000_000_000}


def test_truncate_table_discards_prior_rows(spark):
    from flink_cdc_spark.core.events import TruncateTableEvent

    events = base_events() + [
        TruncateTableEvent(TID),
        DataChangeEvent.insert(TID, (3, "c")),
    ]
    result = make_composer(spark, behavior="EVOLVE").run(events)
    rows = {r.id for r in result.tables["db.t1"].collect()}
    assert rows == {3}


def test_drop_table_removes_output(spark):
    from flink_cdc_spark.core.events import DropTableEvent

    events = base_events() + [DropTableEvent(TID)]
    result = make_composer(spark, behavior="EVOLVE").run(events)
    assert "db.t1" not in result.tables


def test_excluded_type_is_not_applied_to_sink(spark):
    """Sink-side type filtering (SinkDef.getIncludedSchemaEvolutionTypes):
    an excluded ADD_COLUMN evolves the upstream schema but not the sink."""
    yaml_text = """
source: {type: values}
sink:
  type: values
  exclude.schema.changes: [add.column]
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: EVOLVE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    events = base_events() + [
        AddColumnEvent.last(TID, Column("extra", ct.string())),
        DataChangeEvent.insert(TID, (3, "c", "x")),
    ]
    result = composer.run(events)
    table = result.tables["db.t1"]
    assert "extra" not in table.columns
    assert {r.id for r in table.collect()} == {1, 2, 3}


def test_try_evolve_swallows_conflicting_add_evolve_raises(spark):
    """N->1 merge where both upstream tables ADD the same column: the
    second ADD conflicts on the merged sink schema. TRY_EVOLVE applies
    what fits and swallows the conflict; EVOLVE raises on the identical
    stream (SchemaChangeBehavior.java:28-32)."""
    t2 = TableId.parse("db.t2")
    routes = """
route:
  - source-table: db.\\.*
    sink-table: sink.merged
"""
    events = [
        CreateTableEvent(TID, BASE),
        CreateTableEvent(t2, BASE),
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.insert(t2, (2, "b")),
        AddColumnEvent.last(TID, Column("x", ct.int_())),
        AddColumnEvent.last(t2, Column("x", ct.int_())),  # dup on the sink
        DataChangeEvent.insert(TID, (3, "c", 30)),
        DataChangeEvent.insert(t2, (4, "d", 40)),
    ]
    composer = make_composer(spark, behavior="TRY_EVOLVE", routes=routes)
    table = composer.run(events).tables["sink.merged"]
    assert table.columns == ["id", "name", "x"]
    got = {r.id: r.x for r in table.collect()}
    assert got == {1: None, 2: None, 3: 30, 4: 40}

    with pytest.raises(ValueError, match="already exists"):
        make_composer(spark, behavior="EVOLVE", routes=routes).run(events)


def test_duplicate_add_column_rejected(spark):
    from flink_cdc_spark.core.schema_evolution import apply_schema_change_event

    with pytest.raises(ValueError, match="already exists"):
        apply_schema_change_event(
            BASE, AddColumnEvent.last(TID, Column("name", ct.string()))
        )
