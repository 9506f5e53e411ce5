"""Continuous CDC pipeline: live Derby -> polled capture log -> LSM state.

The end-to-end loop of the reference (database -> incremental snapshot ->
streaming tail -> lake sink), asserted against the live database state.
"""

import pytest

from flink_cdc_spark.pipeline.cdc_pipeline import JdbcCdcPipeline
from flink_cdc_spark.sources.jdbc_live import (
    JdbcEndpoint,
    JdbcLiveSourceConfig,
    derby_url,
    install_capture,
)

COLS = ["id", "name", "val"]


def _mk(spark, tmp_path):
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    ep.execute(
        "CREATE TABLE items (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, "items", COLS)
    ep.insert_rows("items", COLS, [(i, f"n{i}", float(i)) for i in range(1, 21)])
    cfg = JdbcLiveSourceConfig(
        url=derby_url(str(tmp_path / "db"), create=False),
        table="items", key_column="id", table_id="app.items", chunk_size=8,
    )
    return ep, JdbcCdcPipeline(spark, cfg, str(tmp_path / "state"), compact_every=3)


def _rows(pipe):
    return {r.id: (r.name, r.val) for r in pipe.current_state().collect()}


def test_bootstrap_then_incremental_polls(spark, tmp_path):
    ep, pipe = _mk(spark, tmp_path)
    pipe.bootstrap()
    assert len(_rows(pipe)) == 20
    assert pipe.poll_once() == 0  # quiet: no new offsets

    ep.execute_update("UPDATE items SET val = val + 100 WHERE id <= 3")
    ep.execute_update("DELETE FROM items WHERE id = 10")
    n = pipe.poll_once()
    assert n == 4  # 3 updates + 1 delete
    rows = _rows(pipe)
    assert rows[1] == ("n1", 101.0) and 10 not in rows and len(rows) == 19

    # several small polls, each an O(batch) delta commit
    for i in (30, 31, 32):
        ep.insert_rows("items", COLS, [(i, f"n{i}", float(i))])
        assert pipe.poll_once() == 1
    assert len(_rows(pipe)) == 22


def test_restart_resumes_from_offset(spark, tmp_path):
    ep, pipe = _mk(spark, tmp_path)
    pipe.bootstrap()
    ep.execute_update("UPDATE items SET val = -1 WHERE id = 5")
    pipe.poll_once()

    # a fresh pipeline over the same state root resumes, not re-snapshots
    pipe2 = JdbcCdcPipeline(spark, pipe.cfg, str(tmp_path / "state"))
    pipe2.bootstrap()
    assert pipe2.poll_once() == 0  # nothing new
    ep.execute_update("DELETE FROM items WHERE id = 6")
    assert pipe2.poll_once() == 1
    rows = _rows(pipe2)
    assert rows[5] == ("n5", -1.0) and 6 not in rows


def test_multi_table_loop_with_transform_and_route(spark, tmp_path):
    """Two live tables -> selector discovery -> transform on one -> routed
    into renamed sink tables; continuous polls keep both in sync."""
    from flink_cdc_spark.cli import run_pipeline
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    for t in ("users", "orders"):
        ep.execute(
            f"CREATE TABLE {t} (id BIGINT NOT NULL PRIMARY KEY, "
            "name VARCHAR(50), val DOUBLE)"
        )
        install_capture(ep, t, COLS)
        ep.insert_rows(t, COLS, [(i, f"{t}{i}", float(i)) for i in range(1, 6)])

    url = derby_url(str(tmp_path / "db"), create=False)
    pipeline = parse_pipeline_yaml(
        f"""
source:
  type: jdbc
  url: "{url}"
  tables: app.\\.*
  chunk-size: 3
  polls: 1
sink:
  type: lake
  path: {tmp_path / "state"}
transform:
  - source-table: app.users
    projection: id, UPPER(name) AS uname
route:
  - source-table: app.\\.*
    sink-table: mart.<>
    replace-symbol: <>
pipeline:
  name: live-loop
  execution.runtime-mode: STREAMING
"""
    )
    summary = run_pipeline(spark, pipeline)
    assert set(summary.tables) == {"mart.users", "mart.orders"}
    assert summary.tables["mart.users"] == 5 and summary.tables["mart.orders"] == 5

    from flink_cdc_spark.sinks.lsm_store import LsmStateStore

    store = LsmStateStore(spark, str(tmp_path / "state"))
    users = {r.id: r.uname for r in store.read("mart.users").collect()}
    assert users[1] == "USERS1"  # transform applied
    orders = store.read("mart.orders")
    assert set(orders.columns) == {"id", "name", "val"}  # untransformed

    # live writes picked up by a second run (resume, no re-snapshot)
    ep.execute_update("UPDATE users SET name = 'changed' WHERE id = 2")
    ep.execute_update("DELETE FROM orders WHERE id = 3")
    summary2 = run_pipeline(spark, pipeline)
    users = {r.id: r.uname for r in store.read("mart.users").collect()}
    assert users[2] == "CHANGED"
    assert 3 not in {r.id for r in store.read("mart.orders").collect()}


def test_live_ddl_evolves_state_and_capture(spark, tmp_path):
    ep, pipe = _mk(spark, tmp_path)
    pipe.bootstrap()
    # source-side DDL + writes under the new shape
    ep.execute("ALTER TABLE items ADD COLUMN score DOUBLE")
    ep.execute_update("UPDATE items SET score = 9.5 WHERE id = 1")
    pipe.poll_once()
    out = pipe.current_state()
    assert "score" in out.columns
    rows = {r.id: r.score for r in out.collect()}
    assert rows[1] == 9.5 and rows[2] is None  # old rows null-padded
    # post-DDL inserts flow through the re-aligned capture channel
    ep.execute(
        "INSERT INTO items (id, name, val, score) VALUES (50, 'new', 5.0, 1.25)"
    )
    pipe.poll_once()
    rows = {r.id: r.score for r in pipe.current_state().collect()}
    assert rows[50] == 1.25


def test_restart_after_crash_before_sink_ddl_catches_the_sink_up(spark, tmp_path):
    """A DDL poll that crashed before its sink DDL, with no data logged
    since: the restarted loop detects no DDL (live metadata is already
    current), so the persisted repair marker must bring the sink schema
    forward by itself."""
    ep, pipe = _mk(spark, tmp_path)
    pipe.bootstrap()
    ep.execute("ALTER TABLE items ADD COLUMN score DOUBLE")

    def boom(events):
        raise RuntimeError("crash before the sink DDL")
    pipe._apply_sink_schema = boom
    with pytest.raises(RuntimeError):
        pipe.poll_once()

    pipe2 = JdbcCdcPipeline(spark, pipe.cfg, str(tmp_path / "state"))
    pipe2.bootstrap()
    assert pipe2.poll_once() == 0
    out = pipe2.current_state()
    assert out.columns == COLS + ["score"]
    assert out.count() == 20


def test_newly_added_table_captured_mid_stream(spark, tmp_path):
    """scan.newly-added-table.enabled (SnapshotSplitAssigner:235-287): a
    table created AFTER the pipeline entered its streaming phase is
    discovered on rescan, snapshotted, and then streams — while the
    original table keeps capturing without a re-snapshot."""
    from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline

    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    ep.execute(
        "CREATE TABLE users (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, "users", COLS)
    ep.insert_rows("users", COLS, [(i, f"u{i}", float(i)) for i in range(1, 6)])

    url = derby_url(str(tmp_path / "db"), create=False)
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "state"), tables_selector=r"app.\.*",
        chunk_size=3,
    )
    loop.bootstrap()
    loop.poll_once()
    assert set(loop.pipes) == {"app.users"}

    # streaming phase: a new matching table appears + old table changes
    ep.execute(
        "CREATE TABLE invoices (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, "invoices", COLS)
    ep.insert_rows("invoices", COLS, [(i, f"inv{i}", 10.0 * i) for i in range(1, 4)])
    ep.execute_update("UPDATE users SET name = 'moved' WHERE id = 4")

    added = loop.capture_newly_added()
    assert added == ["app.invoices"]
    n = loop.poll_once(rescan=True)  # idempotent: nothing re-added
    assert set(loop.pipes) == {"app.users", "app.invoices"}

    inv = {r.id: (r.name, r.val) for r in loop.current_state("app.invoices").collect()}
    assert inv == {1: ("inv1", 10.0), 2: ("inv2", 20.0), 3: ("inv3", 30.0)}
    users = {r.id: r.name for r in loop.current_state("app.users").collect()}
    assert users[4] == "moved" and len(users) == 5

    # and the new table now STREAMS: post-snapshot writes flow on poll
    ep.insert_rows("invoices", COLS, [(9, "inv9", 90.0)])
    ep.execute_update("DELETE FROM invoices WHERE id = 2")
    loop.poll_once()
    inv = {r.id for r in loop.current_state("app.invoices").collect()}
    assert inv == {1, 3, 9}


def test_newly_added_table_gets_routes_and_transforms(spark, tmp_path):
    """A table discovered mid-stream composes through the SAME pipeline
    rules (transform + route) as bootstrap-time tables."""
    from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    ep.execute(
        "CREATE TABLE users (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, "users", COLS)
    ep.insert_rows("users", COLS, [(1, "ann", 1.0)])

    url = derby_url(str(tmp_path / "db"), create=False)
    pdef = parse_pipeline_yaml(
        f"""
source: {{type: jdbc, url: "{url}"}}
sink: {{type: lake, path: {tmp_path / "state"}}}
transform:
  - source-table: app.\\.*
    projection: id, UPPER(name) AS uname
route:
  - source-table: app.\\.*
    sink-table: mart.<>
    replace-symbol: <>
pipeline: {{execution.runtime-mode: STREAMING}}
"""
    )
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "state"), pipeline_def=pdef,
        tables_selector=r"app.\.*", chunk_size=3,
    )
    loop.bootstrap()
    loop.poll_once()

    ep.execute(
        "CREATE TABLE invoices (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, "invoices", COLS)
    ep.insert_rows("invoices", COLS, [(7, "late", 7.0)])
    assert loop.capture_newly_added() == ["app.invoices"]
    loop.poll_once()

    inv = {r.id: r.uname for r in loop.current_state("mart.invoices").collect()}
    assert inv == {7: "LATE"}  # routed AND transformed
    users = {r.id: r.uname for r in loop.current_state("mart.users").collect()}
    assert users == {1: "ANN"}


def test_live_route_mode_first_match(spark, tmp_path):
    """`route-mode: FIRST_MATCH` with two overlapping route rules: the live
    loop lands the table only in the first rule's sink table, as the
    batch composer does."""
    from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline
    from flink_cdc_spark.core.schema import Schema
    from flink_cdc_spark.core.table_id import TableId
    from flink_cdc_spark.pipeline.composer import BatchPipelineComposer, TableStream
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml
    from flink_cdc_spark.sources.envelope import wrap_as_inserts

    ep, _ = _mk(spark, tmp_path)
    url = derby_url(str(tmp_path / "db"), create=False)
    pdef = parse_pipeline_yaml(
        f"""
source: {{type: jdbc, url: "{url}"}}
sink: {{type: lake, path: {tmp_path / "live"}}}
route:
  - source-table: app.items
    sink-table: mart.first
  - source-table: app.\\.*
    sink-table: mart.second
pipeline: {{execution.runtime-mode: STREAMING, route-mode: FIRST_MATCH}}
"""
    )
    rows = spark.createDataFrame([(1, "n1", 1.0)], "id BIGINT, name STRING, val DOUBLE")
    batch = BatchPipelineComposer(spark, pdef).compose([
        TableStream(TableId.parse("app.items"), wrap_as_inserts(rows, "app.items"),
                    Schema.from_spark_struct(rows.schema, primary_keys=("id",)))
    ])
    assert set(batch.tables) == {"mart.first"}

    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "live"), pipeline_def=pdef,
        tables_selector=r"app.\.*", chunk_size=8,
    )
    loop.bootstrap()
    ep.execute_update("DELETE FROM items WHERE id = 4")
    loop.poll_once()
    assert loop.sink_tables() == ["mart.first"]
    assert loop.current_state("mart.second") is None
    ids = {r.id for r in loop.current_state("mart.first").collect()}
    assert ids == set(range(1, 21)) - {4}


@pytest.mark.parametrize("behavior", ["IGNORE", "EXCEPTION", "EVOLVE"])
def test_live_loop_honors_schema_change_behavior(spark, tmp_path, behavior):
    """A live ALTER TABLE reaches the sink through the schema coordinator,
    so `schema.change.behavior` decides it, as in the wire runner."""
    from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline
    from flink_cdc_spark.pipeline.schema_coordinator import SchemaEvolveError
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    ep, _ = _mk(spark, tmp_path)
    url = derby_url(str(tmp_path / "db"), create=False)
    pdef = parse_pipeline_yaml(
        f"""
source: {{type: jdbc, url: "{url}"}}
sink: {{type: lake, path: {tmp_path / "live"}}}
pipeline: {{execution.runtime-mode: STREAMING, schema.change.behavior: {behavior}}}
"""
    )
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "live"), pipeline_def=pdef,
        tables_selector=r"app.\.*", chunk_size=8,
    )
    loop.bootstrap()
    ep.execute("ALTER TABLE items ADD COLUMN extra INT")
    ep.execute_update("UPDATE items SET extra = 7 WHERE id = 1")
    if behavior == "EXCEPTION":
        with pytest.raises(SchemaEvolveError):
            loop.poll_once()
        return
    loop.poll_once()
    state = loop.current_state("app.items")
    rows = {r.id: r for r in state.collect()}
    assert len(rows) == 20
    if behavior == "IGNORE":
        assert state.columns == COLS
    else:
        assert state.columns == COLS + ["extra"]
        assert rows[1].extra == 7 and rows[2].extra is None


def test_live_n_to_1_route_widens_the_sink(spark, tmp_path):
    """Two live tables routed into one sink table whose column types
    differ (INT, BIGINT): the sink widens to BIGINT, so a value past the
    INT range reads back."""
    from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    for t, v_type in (("a1", "INT"), ("a2", "BIGINT")):
        ep.execute(f"CREATE TABLE {t} (id BIGINT NOT NULL PRIMARY KEY, v {v_type})")
        install_capture(ep, t, ["id", "v"])
    ep.insert_rows("a1", ["id", "v"], [(1, 5)])
    ep.insert_rows("a2", ["id", "v"], [(2, 5_000_000_000)])
    url = derby_url(str(tmp_path / "db"), create=False)
    pdef = parse_pipeline_yaml(
        f"""
source: {{type: jdbc, url: "{url}"}}
sink: {{type: lake, path: {tmp_path / "live"}}}
route:
  - source-table: app.a\\.*
    sink-table: mart.all
pipeline: {{execution.runtime-mode: STREAMING}}
"""
    )
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "live"), pipeline_def=pdef,
        tables_selector=r"app.\.*", chunk_size=8,
    )
    loop.bootstrap()
    ep.insert_rows("a2", ["id", "v"], [(3, 6_000_000_000)])
    loop.poll_once()
    state = loop.current_state("mart.all")
    assert dict(state.dtypes)["v"] == "bigint"
    assert {r.id: r.v for r in state.collect()} == {
        1: 5, 2: 5_000_000_000, 3: 6_000_000_000
    }
