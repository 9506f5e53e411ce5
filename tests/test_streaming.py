"""Structured Streaming runner: wire serde, foreachBatch processing with
mid-stream DDL barriers, incremental multi-batch state merging."""

import os

import pytest

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    CreateTableEvent,
    DataChangeEvent,
    RenameColumnEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline import parse_pipeline_yaml
from flink_cdc_spark.streaming import StreamingPipelineRunner, write_wire_file
from flink_cdc_spark.streaming.wire import (
    ddl_from_dict,
    ddl_to_dict,
    events_to_wire_lines,
)

TID = TableId.parse("db.users")

SCHEMA_V1 = (
    new_schema()
    .physical_column("id", "BIGINT NOT NULL")
    .physical_column("name", "STRING")
    .physical_column("score", "DOUBLE")
    .primary_key("id")
    .build()
)


def _base_events():
    return [
        CreateTableEvent(TID, SCHEMA_V1),
        DataChangeEvent.insert(TID, (1, "alice", 10.0)),
        DataChangeEvent.insert(TID, (2, "bob", 20.0)),
        DataChangeEvent.update(TID, (1, "alice", 10.0), (1, "alice", 15.0)),
        DataChangeEvent.delete(TID, (2, "bob", 20.0)),
        DataChangeEvent.insert(TID, (3, "carol", 30.0)),
    ]


def _runner(spark, tmp_path, yaml_text=None):
    yaml_text = yaml_text or """
source: {type: wire}
sink: {type: state}
pipeline: {schema.change.behavior: EVOLVE}
"""
    return StreamingPipelineRunner(
        spark,
        parse_pipeline_yaml(yaml_text),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )


def test_ddl_serde_roundtrip():
    events = [
        CreateTableEvent(TID, SCHEMA_V1),
        AddColumnEvent.last(TID, Column("age", ct.int_())),
        RenameColumnEvent(TID, (("name", "full_name"),)),
    ]
    for ev in events:
        assert ddl_from_dict(TID, ddl_to_dict(ev)) == ev


def test_wire_lines_track_schema_epochs():
    events = [
        CreateTableEvent(TID, SCHEMA_V1),
        DataChangeEvent.insert(TID, (1, "a", 1.0)),
        AddColumnEvent.last(TID, Column("age", ct.int_())),
        DataChangeEvent.insert(TID, (2, "b", 2.0, 42)),
    ]
    lines = events_to_wire_lines(events)
    assert len(lines) == 4
    import json

    last = json.loads(lines[-1])
    assert json.loads(last["after"])["age"] == 42


def test_stream_single_batch_materializes(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), _base_events())
    runner = _runner(spark, tmp_path)
    runner.run_available(str(src))
    state = runner.state.read("db.users")
    rows = {r.id: r for r in state.collect()}
    assert set(rows) == {1, 3}
    assert rows[1].score == 15.0
    assert runner.batches_seen >= 1


def test_stream_incremental_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), _base_events())
    runner = _runner(spark, tmp_path)
    runner.run_available(str(src))

    # second batch arrives later: update existing key, add a new one
    tail = [
        CreateTableEvent(TID, SCHEMA_V1),  # replayed create is idempotent
        DataChangeEvent.update(TID, (1, "alice", 15.0), (1, "alice", 99.0)),
        DataChangeEvent.insert(TID, (4, "dave", 40.0)),
    ]
    write_wire_file(str(src / "f1.json"), tail)
    runner.run_available(str(src))
    rows = {r.id: r for r in runner.state.read("db.users").collect()}
    assert set(rows) == {1, 3, 4}
    assert rows[1].score == 99.0


def test_stream_mid_batch_ddl_barrier(spark, tmp_path):
    """A DDL between data events inside ONE file (one micro-batch) must
    split the batch: pre-DDL rows merge under the old schema, post-DDL
    rows see the new column."""
    events = [
        CreateTableEvent(TID, SCHEMA_V1),
        DataChangeEvent.insert(TID, (1, "alice", 10.0)),
        AddColumnEvent.last(TID, Column("age", ct.int_())),
        DataChangeEvent.insert(TID, (2, "bob", 20.0, 33)),
        DataChangeEvent.update(TID, (1, "alice", 10.0, None), (1, "alice", 10.0, 44)),
    ]
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), events)
    runner = _runner(spark, tmp_path)
    runner.run_available(str(src))
    state = runner.state.read("db.users")
    assert "age" in state.columns
    rows = {r.id: r for r in state.collect()}
    assert rows[1].age == 44
    assert rows[2].age == 33


def test_stream_rename_migrates_state(spark, tmp_path):
    events = [
        CreateTableEvent(TID, SCHEMA_V1),
        DataChangeEvent.insert(TID, (1, "alice", 10.0)),
    ]
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), events)
    runner = _runner(spark, tmp_path)
    runner.run_available(str(src))

    schema_v2 = (
        new_schema()
        .physical_column("id", "BIGINT NOT NULL")
        .physical_column("full_name", "STRING")
        .physical_column("score", "DOUBLE")
        .primary_key("id")
        .build()
    )
    tail = [
        CreateTableEvent(TID, SCHEMA_V1),
        RenameColumnEvent(TID, (("name", "full_name"),)),
        DataChangeEvent.insert(TID, (2, "bob", 20.0)),
    ]
    write_wire_file(str(src / "f1.json"), tail)
    runner.run_available(str(src))
    state = runner.state.read("db.users")
    assert "full_name" in state.columns and "name" not in state.columns
    rows = {r.id: r for r in state.collect()}
    assert rows[1].full_name == "alice"  # migrated, not nulled
    assert rows[2].full_name == "bob"


SCHEMA_TIME = (
    new_schema()
    .physical_column("id", "BIGINT NOT NULL")
    .physical_column("t", "TIME")
    .primary_key("id")
    .build()
)


@pytest.mark.parametrize(
    "transform, schema, payloads, expected",
    [
        (
            "projection: id, UPPER(name) AS name, score * 2 AS score\n"
            "    filter: score > 5",
            SCHEMA_V1,
            [(1, "alice", 10.0), (2, "bob", 2.0)],
            [{"id": 1, "name": "ALICE", "score": 20.0}],
        ),
        # output names differ from the source columns: the wire must still
        # decode with the pre-transform schema
        (
            "projection: id, UPPER(name) AS uname",
            SCHEMA_V1,
            [(1, "alice", 10.0), (2, "bob", 2.0)],
            [{"id": 1, "uname": "ALICE"}, {"id": 2, "uname": "BOB"}],
        ),
        # TIME is an int of millis on the wire; only the logical schema
        # tells DATE_FORMAT to read it as a time of day
        (
            "projection: id, DATE_FORMAT(t, 'HH:mm:ss') AS ts",
            SCHEMA_TIME,
            [(1, 3_723_000), (2, 45_296_000)],
            [{"id": 1, "ts": "01:02:03"}, {"id": 2, "ts": "12:34:56"}],
        ),
    ],
    ids=["same-names", "renamed", "time-format"],
)
def test_stream_transform_applies(spark, tmp_path, transform, schema, payloads, expected):
    """The wire runner and the batch event composer run one pipeline
    front, so they agree on every projection."""
    from flink_cdc_spark.pipeline.composer import EventPipelineComposer

    yaml_text = f"""
source: {{type: wire}}
sink: {{type: state}}
transform:
  - source-table: db.users
    {transform}
pipeline: {{schema.change.behavior: EVOLVE}}
"""
    events = [CreateTableEvent(TID, schema)] + [
        DataChangeEvent.insert(TID, p) for p in payloads
    ]
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), events)
    runner = _runner(spark, tmp_path, yaml_text)
    runner.run_available(str(src))

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])

    streamed = rows(runner.state.read("db.users"))
    batch = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text)).run(events)
    assert streamed == rows(batch.tables["db.users"]) == expected


def test_stream_route_renames_sink_table(spark, tmp_path):
    yaml_text = """
source: {type: wire}
sink: {type: state}
route:
  - source-table: db.users
    sink-table: lake.users_v2
pipeline: {schema.change.behavior: EVOLVE}
"""
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), _base_events())
    runner = _runner(spark, tmp_path, yaml_text)
    runner.run_available(str(src))
    assert runner.state.read("db.users") is None
    rows = {r.id: r for r in runner.state.read("lake.users_v2").collect()}
    assert set(rows) == {1, 3}


def test_windowed_watermark_drops_late_rows(spark, tmp_path):
    """Crafted replay: batch 1 carries one event for a window the
    watermark (from batch 0) has already passed -> dropped; one event for
    a still-open window -> kept. Append mode emits exactly the windows the
    final watermark passed."""
    import json
    import os

    from flink_cdc_spark.streaming.windowed import windowed_watermark_aggregate

    def write_batch(b, rows):
        d = tmp_path / "src" / f"b{b}"
        os.makedirs(d)
        with open(d / "part.json", "w") as f:
            for eid, us, val in rows:
                f.write(json.dumps({"event_id": eid, "ts_us": us,
                                    "user_id": 1, "event_type": "t",
                                    "value": val}) + "\n")

    day = 86_400_000_000  # one day in micros
    # batch 0: events on day0 and day2 -> watermark ends at day2+1h
    write_batch(0, [(1, 1 * 3600_000_000, 1.0), (2, 2 * day + 3600_000_000, 2.0)])
    # batch 1: late event for day0 (window end day1 <= wm -> DROPPED),
    # event for day2 (window end day3 > wm -> kept)
    write_batch(1, [(3, 2 * 3600_000_000, 100.0), (4, 2 * day + 7200_000_000, 4.0)])
    # batch 2: advance the watermark past day2 so its window finalizes
    write_batch(2, [(5, 3 * day + 3600_000_000, 5.0)])

    import flink_cdc_spark.streaming.windowed as wm

    old = wm.N_BATCHES
    wm.N_BATCHES = 3
    try:
        res = windowed_watermark_aggregate(spark, str(tmp_path / "src"), str(tmp_path / "run"))
        rows = {str(r.window_start)[:10]: (r.cnt, r.total) for r in res.collect()}
    finally:
        wm.N_BATCHES = old
    # day0 window: only the on-time event (late one dropped)
    assert rows["1970-01-01"] == (1, 1.0)
    # day2 window: batch-0 event + batch-1 on-time event
    assert rows["1970-01-03"] == (2, 6.0)
    # day3 window never finalized (watermark == its last event) -> absent
    assert "1970-01-04" not in rows


def test_batch_data_plane_scanned_once_per_batch(spark, tmp_path):
    """process_batch caches the data plane: an N-table batch must evaluate
    the upstream source once, not once per (segment, table) filter. The
    upstream scan count is observed with an accumulator inside a
    mapInPandas stage feeding the batch."""
    import json as _json

    from flink_cdc_spark.streaming.wire import WIRE_SCHEMA, KIND_DATA

    tables = ["db.t1", "db.t2", "db.t3"]
    runner = _runner(spark, tmp_path)
    for t in tables:
        runner._apply_ddl(CreateTableEvent(TableId.parse(t), SCHEMA_V1))

    rows = []
    seq = 0
    for t in tables:
        for i in range(1, 4):
            rows.append(
                (
                    KIND_DATA, t, "INSERT", None,
                    _json.dumps({"id": i, "name": "n", "score": 1.0}),
                    {}, seq, None,
                )
            )
            seq += 1
    raw = spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1)

    acc = spark.sparkContext.accumulator(0)

    def tick(batches):
        acc.add(1)  # once per upstream partition evaluation
        for pdf in batches:
            yield pdf

    batch = raw.mapInPandas(tick, WIRE_SCHEMA)
    runner.process_batch(batch, 0)

    # 3 tables merged; a re-scan-per-table design would evaluate the
    # upstream >= 4 times (distinct + one per table)
    assert acc.value == 1
    for t in tables:
        assert runner.state.read(t).count() == 3


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """The same gap-session aggregation through Structured Streaming's
    session_window (the stateful merging-session operator) converges to
    the batch sessionize_native result once the stream drains: sessions
    are flushed by a final watermark-advancing sentinel event per user,
    emitted in append mode, and compared row-for-row (minus the
    sentinel's own singleton sessions)."""
    import datetime
    import os

    from pyspark.sql import functions as F

    from flink_cdc_spark.datapipe import sessions

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    m = datetime.timedelta(minutes=1)
    rows = [
        (1, t0, 1), (1, t0 + 5 * m, 2), (1, t0 + 200 * m, 3),
        (2, t0 + 3 * m, 4), (2, t0 + 62 * m, 5), (2, t0 + 63 * m, 6),
    ]
    flush = datetime.datetime(2030, 1, 1)  # watermark past every session
    sentinel = [(1, flush, 900), (2, flush, 901)]
    ev = spark.createDataFrame(
        rows + sentinel, "user_id long, ts timestamp_ntz, event_id long"
    )
    src = str(tmp_path / "events_src")
    ev.selectExpr(
        "user_id",
        "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts) AS t_us",
        "event_id",
    ).coalesce(1).write.json(src)

    stream = spark.readStream.schema("user_id long, t_us long, event_id long").json(src)
    agged = (
        stream.withColumn("t", F.timestamp_micros("t_us"))
        .withWatermark("t", "0 seconds")
        .groupBy("user_id", F.session_window("t", "60 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
    )
    out_dir = str(tmp_path / "out")
    q = (
        agged.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    flush_us = int(flush.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    got = sorted(
        (r.user_id, r.n_events, r.start_us, r.end_us)
        for r in spark.read.parquet(out_dir).collect()
        if r.start_us < flush_us
    )
    want = sorted(
        (r.user_id, r.n_events, r.start_us, r.end_us)
        for r in sessions.sessionize_native(
            spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long"),
            gap_minutes=60,
        ).collect()
    )
    # user 1: {t0, +5m} and {+200m}; user 2: one 3-event session
    assert got == want and len(got) == 3


def test_stream_static_enrich_matches_batch_join(spark, tmp_path):
    """Per-micro-batch stream-static left join over replayed files equals
    the one-shot batch join; unmatched keys keep NULL payloads."""
    import os

    from flink_cdc_spark.streaming.enrich import stream_static_enrich

    staged = tmp_path / "src"
    for b, rows in enumerate([[(1, 1000, 10, "view", 1.0)],
                              [(2, 2000, 11, "click", 2.0),
                               (3, 3000, 99, "view", 3.0)]]):  # 99: no dim row
        d = staged / f"b{b}"
        os.makedirs(d)
        with open(d / "part.json", "w") as f:
            for (eid, ts_us, uid, et, v) in rows:
                f.write('{"event_id": %d, "ts_us": %d, "user_id": %d, '
                        '"event_type": "%s", "value": %s}\n'
                        % (eid, ts_us, uid, et, v))
    dim = spark.createDataFrame(
        [(10, "BUILDING"), (11, "AUTO")], "c_custkey long, c_mktsegment string"
    )
    out = stream_static_enrich(spark, str(staged), dim, str(tmp_path / "work"))
    got = {(r.event_id, r.segment) for r in out.collect()}
    assert got == {(1, "BUILDING"), (2, "AUTO"), (3, None)}


def test_stream_interval_join_matches_across_batches(spark, tmp_path):
    """A view in batch 0 must stay in join state until its click arrives
    in batch 2; pairs outside the window or for other users don't emit."""
    import json
    import os
    import time

    from flink_cdc_spark.streaming.stream_join import stream_interval_join

    staged = tmp_path / "src"
    base = 1_700_000_000_000_000  # epoch micros

    def write_batch(name, rows, order):
        d = staged / name
        d.mkdir(parents=True)
        p = d / "data.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        t = time.time() + order
        os.utime(p, (t, t))

    minute = 60_000_000
    write_batch("b0", [
        {"event_id": 1, "ts_us": base, "user_id": 7, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts_us": base, "user_id": 8, "event_type": "view", "value": 1.0},
    ], 0)
    write_batch("b1", [
        {"event_id": 3, "ts_us": base + 10 * minute, "user_id": 7,
         "event_type": "click", "value": 1.0},
    ], 1)
    write_batch("b2", [
        # user 7 again, but 90 min after the view: outside the window
        {"event_id": 4, "ts_us": base + 90 * minute, "user_id": 7,
         "event_type": "click", "value": 1.0},
        # user 8's click arrives two batches after their view: must match
        {"event_id": 5, "ts_us": base + 30 * minute, "user_id": 8,
         "event_type": "click", "value": 1.0},
    ], 2)

    out = stream_interval_join(spark, str(staged), str(tmp_path / "work"))
    pairs = sorted((r.view_id, r.click_id) for r in out.collect())
    assert pairs == [(1, 3), (2, 5)]


def test_epoch_job_counts_are_pinned(spark, tmp_path, monkeypatch):
    """Spark jobs per ``process_batch``, counted with the status tracker
    under one job group set inside the callback. An epoch whose data is
    one segment runs the control job (the DDL collect, observing the
    data's tables and seq range) and one delta write; only data spread
    over several segments adds the presence pass."""
    import uuid

    from flink_cdc_spark.streaming.wire import events_to_wire_lines

    t1, t2 = TableId.parse("db.t1"), TableId.parse("db.t2")
    create1, create2 = CreateTableEvent(t1, SCHEMA_V1), CreateTableEvent(t2, SCHEMA_V1)
    files = [
        # DDL ahead of its data
        [create1, create2] + [
            DataChangeEvent.insert(t1, (i, f"n{i}", float(i))) for i in (1, 2, 3)
        ],
        # no DDL
        [DataChangeEvent.update(t1, (1, "n1", 1.0), (1, "n1", 10.0)),
         DataChangeEvent.delete(t1, (2, "n2", 2.0)),
         DataChangeEvent.insert(t1, (4, "n4", 4.0))],
        # a DDL between two tables' data: the presence fallback
        [DataChangeEvent.update(t1, (1, "n1", 10.0), (1, "n1", 11.0)),
         AddColumnEvent.last(t2, Column("age", ct.int_())),
         DataChangeEvent.insert(t2, (10, "x", 1.0, 7))],
    ]
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    groups = []
    process_batch = StreamingPipelineRunner.process_batch

    def counted(self, batch, batch_id):
        groups.append(f"wire-{run_id}-{batch_id}")
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", groups[-1])
        try:
            process_batch(self, batch, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(StreamingPipelineRunner, "process_batch", counted)
    src = tmp_path / "src"
    src.mkdir()
    runner = _runner(spark, tmp_path)
    seq = 0
    for i, events in enumerate(files):
        # later files: the CREATEs only give the encoder its schemas
        known = [] if i == 0 else [create1, create2]
        lines = events_to_wire_lines(known + events, seq)[len(known):]
        (src / f"f{i}.json").write_text("\n".join(lines) + "\n")
        seq += len(known) + len(events)
        runner.run_available(str(src))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs == [2, 2, 5], jobs
    rows = {r.id: r.score for r in runner.state.read("db.t1").collect()}
    assert rows == {1: 11.0, 3: 3.0, 4: 4.0}
    got = [(r.id, r.name, r.age) for r in runner.state.read("db.t2").collect()]
    assert got == [(10, "x", 7)]


def test_epoch_round_trips_are_bounded(spark, tmp_path, monkeypatch):
    """Driver→JVM py4j round trips per ``process_batch``, counted on the
    thread running the callback, through a transform with a computed
    column and a filter. Each stage of the epoch's plan (the control job,
    the wire decode, the transform, the coercion, the LSM row-image
    select) is SQL text applied with one call, so an epoch costs tens of
    round trips, not several per field: built from ``Column`` objects,
    these four epochs took 1,900-2,100 each. Upper bounds, not exact
    counts, so a PySpark patch release does not break it."""
    import threading

    from py4j.clientserver import ClientServerConnection

    t1 = TableId.parse("db.t1")
    create = CreateTableEvent(t1, SCHEMA_V1)
    add_age = AddColumnEvent.last(t1, Column("age", ct.int_()))
    files = [
        # DDL: the CREATE ahead of its data (id 7 is filtered out)
        [create] + [DataChangeEvent.insert(t1, (i, n, float(i)))
                    for i, n in ((1, "a"), (2, "b"), (7, "x"))],
        # ordinary
        [DataChangeEvent.update(t1, (1, "a", 1.0), (1, "a1", 10.0)),
         DataChangeEvent.delete(t1, (2, "b", 2.0)),
         DataChangeEvent.insert(t1, (3, "c", 3.0))],
        # DDL: ADD COLUMN ahead of data that sets it
        [add_age,
         DataChangeEvent.insert(t1, (4, "d", 4.0, 40)),
         DataChangeEvent.update(t1, (1, "a1", 10.0, None), (1, "a1", 11.0, 5))],
        # ordinary
        [DataChangeEvent.update(t1, (3, "c", 3.0, None), (3, "c2", 3.0, 30)),
         DataChangeEvent.delete(t1, (4, "d", 4.0, 40))],
    ]
    send, process_batch = ClientServerConnection.send_command, StreamingPipelineRunner.process_batch
    local = threading.local()
    trips = []

    def send_command(conn, command):
        if getattr(local, "counting", False):
            trips[-1] += 1
        return send(conn, command)

    def counted(self, batch, batch_id):
        trips.append(0)
        local.counting = True
        try:
            process_batch(self, batch, batch_id)
        finally:
            local.counting = False

    monkeypatch.setattr(ClientServerConnection, "send_command", send_command)
    monkeypatch.setattr(StreamingPipelineRunner, "process_batch", counted)
    src = tmp_path / "src"
    src.mkdir()
    runner = _runner(spark, tmp_path, """
source: {type: wire}
sink: {type: state}
transform:
  - source-table: db.t1
    projection: "*, UPPER(name) AS name_uc"
    filter: "id <> 7"
pipeline: {schema.change.behavior: EVOLVE}
""")
    known, seq = [], 0
    for i, events in enumerate(files):
        # the DDL of earlier files only gives the encoder its schemas
        lines = events_to_wire_lines(known + events, seq)[len(known):]
        (src / f"f{i}.json").write_text("\n".join(lines) + "\n")
        seq += len(known) + len(events)
        known += [e for e in events if not isinstance(e, DataChangeEvent)]
        runner.run_available(str(src))
    assert len(trips) == 4, trips
    ddl_epochs, ordinary = trips[0::2], trips[1::2]
    assert all(n <= 300 for n in ddl_epochs), trips
    assert all(n <= 200 for n in ordinary), trips
    got = {(r.id, r.name, r.score, r.name_uc, r.age)
           for r in runner.state.read("db.t1").collect()}
    assert got == {(1, "a1", 11.0, "A1", 5), (3, "c2", 3.0, "C2", 30)}
